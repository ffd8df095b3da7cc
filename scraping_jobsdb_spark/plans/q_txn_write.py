"""Transactional table layer (sources/txn.py): MERGE/CDC/time-travel
write surface + corpus-prep compositions.

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
# Transactional table layer (sources/txn.py)
# ---------------------------------------------------------------------------


@_register(
    "merge_upsert_txn",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0
    ), source AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS new_price, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT t.o_orderkey, t.o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
                ELSE t.o_totalprice END AS o_totalprice,
           t.o_orderstatus
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_custkey % 7 = 0)
    UNION ALL
    SELECT s.o_orderkey, s.o_custkey, s.new_price, s.o_orderstatus
    FROM source s LEFT JOIN target t ON s.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL
    """,
)
def q_merge_upsert_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE (J2/A3 unified, sources/txn.py): build a txn table
    from a deterministic orders slice, MERGE a source slice into it —
    matched rows update their price (or delete when the source custkey % 7
    hits), unmatched source rows insert — and return the committed snapshot.
    The reference's UPDATE…FROM + ON CONFLICT semantics
    (``sql/impute_salary_update_parsed_jobs_table.sql:1-7``,
    ``sql/scrape_url_insert_data.sql:1-4``) in one atomic copy-on-write
    commit. Exercises the real write path: data files + manifest land under
    a scratch dir, the read is the published snapshot. The table is
    BUCKETED on the merge key (manifest-recorded write distribution):
    the target side of the MERGE's full-outer join arrives pre-hashed, so
    the join exchanges only the source — one shuffle per merge instead of
    two, the dominant saving for a repeatedly-upserted keyed table
    (plan-pinned in tests/test_txn.py)."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    source = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1000.0).alias("new_price"),
        "o_orderstatus",
    )
    table = TxnTable.create(
        spark,
        tempfile.mkdtemp(prefix="sjs_merge_q_"),
        target,
        bucket_by=["o_orderkey"],
        n_buckets=8,
    )
    table.merge(
        source,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": "new_price"},
        when_matched_delete=F.col("s.o_custkey") % 7 == 0,
    )
    return table.read()


@_register(
    "cdc_row_changes_txn",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    ), src AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0 AS new_price
        FROM orders WHERE o_orderkey % 5 = 0
    ), v2 AS (
        SELECT t.o_orderkey, t.o_custkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
                    ELSE t.o_totalprice END AS o_totalprice
        FROM v1 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_custkey % 11 = 0)
        UNION ALL
        SELECT s.o_orderkey, s.o_custkey, s.new_price
        FROM src s LEFT JOIN v1 t ON s.o_orderkey = t.o_orderkey
        WHERE t.o_orderkey IS NULL
    )
    SELECT o_orderkey, o_custkey, o_totalprice, 'delete' AS _change_type
    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'insert' AS _change_type
    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
    """,
)
def q_cdc_row_changes_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between txn-table snapshots (sources/txn.py
    ``read_row_changes``): build v1 from a deterministic orders slice, MERGE
    a second slice (update matched, delete when custkey % 11 hits, insert
    unmatched) to make v2, then emit the v1→v2 change feed — every update
    surfaces as its delete+insert pair. The oracle recomputes both
    snapshots in SQL and diffs them with EXCEPT ALL, the same multiset
    semantics as the engine's exceptAll form. This is the downstream-sync
    edge the reference lacks entirely (its pipelines re-export full CSVs,
    ``airflow/dags/export_to_csv.py:12-26``); at 100 TB shipping the delta
    is the only viable feed."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 500.0).alias("new_price"),
    )
    table = TxnTable.create(spark, tempfile.mkdtemp(prefix="sjs_cdc_q_"), v1)
    from_version = table.version()
    table.merge(
        src,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": "new_price"},
        when_matched_delete=F.col("s.o_custkey") % 11 == 0,
    )
    return table.read_row_changes(from_version)


@_register(
    "cdc_row_changes_bucketed_txn",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    ), src AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0 AS new_price
        FROM orders WHERE o_orderkey % 5 = 0
    ), v2 AS (
        SELECT t.o_orderkey, t.o_custkey,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
                    ELSE t.o_totalprice END AS o_totalprice
        FROM v1 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_custkey % 11 = 0)
        UNION ALL
        SELECT s.o_orderkey, s.o_custkey, s.new_price
        FROM src s LEFT JOIN v1 t ON s.o_orderkey = t.o_orderkey
        WHERE t.o_orderkey IS NULL
    )
    SELECT o_orderkey, o_custkey, o_totalprice, 'delete' AS _change_type
    FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'insert' AS _change_type
    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)
    """,
)
def q_cdc_row_changes_bucketed_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same v1→MERGE→v2 change feed as ``cdc_row_changes_txn``, on a
    table BUCKETED by the merge key — which switches ``read_row_changes``
    onto its co-bucketed physical path: per-bucket multiplicity counts and
    a co-partitioned full-outer join, ZERO global exchange (plan-pinned in
    tests/test_txn.py), instead of the two-scan exceptAll that shuffles
    both snapshots on all columns. Identical oracle as the unbucketed
    query: bucketing is a physical layout, never a semantic change — and
    this row proves it with a value hash."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 500.0).alias("new_price"),
    )
    table = TxnTable.create(
        spark,
        tempfile.mkdtemp(prefix="sjs_cdc_qb_"),
        v1,
        bucket_by=["o_orderkey"],
        n_buckets=8,
    )
    from_version = table.version()
    table.merge(
        src,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": "new_price"},
        when_matched_delete=F.col("s.o_custkey") % 11 == 0,
    )
    return table.read_row_changes(from_version)


@_register(
    "cdc_apply_changes_txn",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
    ), src AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0 AS new_price
        FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT t.o_orderkey, t.o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
                ELSE t.o_totalprice END AS o_totalprice
    FROM v1 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_custkey % 11 = 0)
    UNION ALL
    SELECT s.o_orderkey, s.o_custkey, s.new_price
    FROM src s LEFT JOIN v1 t ON s.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL
    """,
)
def q_cdc_apply_changes_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full replication loop, value-hash checked end to end: table A
    takes a MERGE (update/delete/insert), its v1→v2 row-change feed is
    READ (``read_row_changes``) and APPLIED (``apply_changes``) to an
    independent copy B created from v1 — and B must now equal A@v2, which
    the oracle recomputes directly in SQL. Ship the delta, not the table:
    the downstream-sync shape that replaces the reference's full-CSV
    re-exports at any scale where re-shipping the table is unthinkable."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 500.0).alias("new_price"),
    )
    a = TxnTable.create(spark, tempfile.mkdtemp(prefix="sjs_cdc_a_"), v1)
    b = TxnTable.create(spark, tempfile.mkdtemp(prefix="sjs_cdc_b_"), v1)
    from_version = a.version()
    a.merge(
        src,
        on=["o_orderkey"],
        when_matched_update={"o_totalprice": "new_price"},
        when_matched_delete=F.col("s.o_custkey") % 11 == 0,
    )
    b.apply_changes(a.read_row_changes(from_version))
    return b.read()


@_register(
    "cdc_appends_since_txn",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 7 = 1 OR o_orderkey % 7 = 2
    """,
)
def q_cdc_appends_since_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only CDC (``read_appends_since``): checkpoint a version, keep
    committing appends, poll exactly the new rows — the incremental-consumer
    contract. Two appends after the checkpointed create must surface both
    slices and nothing from the base. File-precise (the manifest delta IS
    the row delta for append commits) — zero compute, zero write-path cost,
    vs the snapshot-diff form in ``cdc_row_changes_txn``."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    table = TxnTable.create(spark, tempfile.mkdtemp(prefix="sjs_cdcapp_q_"), base)
    checkpoint = table.version()
    for rem in (1, 2):
        table.append(
            orders.filter(F.col("o_orderkey") % 7 == rem).select(
                "o_orderkey", "o_custkey", "o_totalprice"
            )
        )
    return table.read_appends_since(checkpoint)


@_register(
    "dq_bounds_observed",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           {_dsum_sql('o_totalprice')} AS total_spend
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_dq_bounds_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5, zero-extra-pass form: DQ metrics ride the SAME job as the real
    aggregate via ``df.observe`` (operators/checks.py:observed) — at 100 TB a
    separate checking pass doubles the scan bill, so the engine's canonical
    DQ shape is in-flight observation. The bounds assertion on
    o_totalprice and the null assertion on o_custkey raise on violation
    after the action; the returned frame is the per-status
    rollup the job computed."""
    import uuid as _uuid

    from scraping_jobsdb_spark.operators.checks import observed

    orders = load_table(spark, sf_dir, "orders")
    obsd, handle = observed(
        orders,
        f"dq_gate_{_uuid.uuid4().hex[:8]}",
        {
            "n_rows": F.count(F.lit(1)),
            "null_custkeys": F.sum(F.col("o_custkey").isNull().cast("int")),
            "min_price": F.min("o_totalprice"),
            "max_price": F.max("o_totalprice"),
        },
    )
    out = obsd.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        _dsum("o_totalprice").alias("total_spend"),
    )
    out.count()  # one action: the metrics ride this job
    m = handle.get()
    if m["null_custkeys"] != 0 or m["min_price"] < 0 or m["n_rows"] == 0:
        raise AssertionError(f"DQ gate failed: {m}")
    return out


@_register(
    "multimodal_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 16) AS sha16
    FROM documents
    """,
)
def q_multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked end to end: a binary content
    column (utf-8 bytes of the document text standing in for an opaque
    payload) crosses into Python as Arrow batches via mapInPandas — the
    exact decode-stage shape of operators/multimodal.py (pruned projection,
    per-row failure isolation) — and the Python side's computed features
    (byte length, sha256 prefix) are verified against DuckDB computing the
    same from the text. Proves the binary-column round trip through Arrow
    byte-for-byte, not just rows-only."""
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "sha16": []}
            for did, content in zip(pdf["doc_id"], pdf["content"]):
                out["doc_id"].append(did)
                try:
                    b = bytes(content)
                    out["n_bytes"].append(len(b))
                    out["sha16"].append(hashlib.sha256(b).hexdigest()[:16])
                except Exception:  # per-row isolation, as in multimodal.py
                    out["n_bytes"].append(None)
                    out["sha16"].append(None)
            yield pd.DataFrame(out)

    return docs.mapInPandas(run, "doc_id bigint, n_bytes bigint, sha16 string")


@_register(
    "multimodal_resize_stage",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               octet_length(encode(text)) AS blen
        FROM documents
        WHERE text IS NOT NULL
    )
    SELECT doc_id AS media_id,
           4 AS width,
           4 AS height,
           CAST(
               8 + least(
                   greatest(1, (blen * 16) // ((2 + doc_id % 7) * (3 + doc_id % 5))),
                   blen
               ) AS BIGINT
           ) AS n_bytes
    FROM d
    """,
)
def q_multimodal_resize_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-resize stage (operators/multimodal.py:resize_images) run
    end to end against an oracle: media payloads are built JVM-side from the
    documents table — a big-endian (w,h) header via unhex(lpad(hex(.)))
    packing plus the utf-8 text bytes as the 'pixel' body — and the real
    mapInPandas resize stage (pruned projection, per-row failure isolation)
    applies the deterministic stand-in resizer. DuckDB mirrors the resizer's
    arithmetic (area-proportional byte keep, floor division) on the same
    source, so the header construction, the Arrow binary crossing, and the
    Python resize arithmetic are all value-hash verified. The real-codec
    hook stays injectable; only the codec itself is faked (none ships in
    this runtime)."""
    from scraping_jobsdb_spark.operators.multimodal import (
        fake_image_resizer,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    def be32(c: Column) -> Column:
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    w = (F.lit(2) + F.col("doc_id") % 7).cast("int")
    h = (F.lit(3) + F.col("doc_id") % 5).cast("int")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(be32(w), be32(h), F.encode("text", "utf-8")).alias("content"),
    )
    resized = resize_images(media, 4, 4, resizer=fake_image_resizer)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("content").cast("bigint").alias("n_bytes"),
    )


@_register(
    "multimodal_png_decode_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h,
               doc_id % 256 AS seed
        FROM documents
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               SUM((3 * xs.x + 7 * ys.y + d.seed) % 256) AS s
        FROM d
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.w)) AS x) xs
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.h)) AS y) ys
        GROUP BY 1, 2, 3
    )
    SELECT doc_id AS media_id, CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(s // (w * h) AS INT) AS mean_luma
    FROM px
    """,
)
def q_multimodal_png_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL image codec through the decode stage, hash-oracled (VERDICT
    r11 item 7 stretch): each document becomes a genuine PNG file —
    stdlib encoder, real container (signature, CRC-checked chunks) and
    real entropy coding (DEFLATE-compressed filtered scanlines) — whose
    gray pixels follow the closed form (3x + 7y + seed) % 256. The
    mapInPandas decode stage then parses the PNG back with
    ``png_image_decoder`` (full chunk walk, zlib inflate, scanline
    unfiltering), and DuckDB recomputes the decoded features straight
    from the pixel formula — so a value-hash match proves the encoder,
    the DEFLATE round trip, and the decoder agree pixel-exactly with
    arithmetic DuckDB derived independently. The compressed bytes
    themselves are never compared (zlib output isn't pinned across
    versions); the DECODED content is, which is the codec contract.
    Scale shape: two chained map-only Arrow stages on a (id)-projection,
    no shuffle."""
    from scraping_jobsdb_spark.operators.multimodal import (
        extract_image_features,
        png_image_decoder,
    )
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    # The encode/decode stages are CPU-bound Python: their parallelism is
    # the id-projection's partition count, which follows the PARQUET FILE
    # COUNT (a compact table collapses the whole codec pipeline onto a
    # handful of tasks — the r13 100x sweep measured the JPEG row at
    # 284 s on ~4 tasks vs ~36 s spread across the machine). One
    # round-robin exchange of an 8-byte column is noise next to that; on
    # a real cluster the same explicit repartition is the standard move
    # before any Arrow stage whose cost is compute, not I/O.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            png_encode_gray,
        )

        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, seed = 8 + did % 13, 8 + did % 11, did % 256
                scan = [
                    bytes((3 * x + 7 * y + seed) % 256 for x in range(w))
                    for y in range(h)
                ]
                out["media_id"].append(did)
                out["content"].append(png_encode_gray(scan))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")
    return extract_image_features(media, decoder=png_image_decoder).select(
        "media_id", "width", "height", "mean_luma"
    )


@_register(
    "multimodal_jpeg_decode_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, 8 + doc_id % 13 AS w, 8 + doc_id % 11 AS h
        FROM documents
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               SUM(2 * ((d.doc_id + xs.x // 8 + 3 * (ys.y // 8)) % 128)) AS s
        FROM d
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.w)) AS x) xs
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.h)) AS y) ys
        GROUP BY 1, 2, 3
    )
    SELECT doc_id AS media_id, CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(s // (w * h) AS INT) AS mean_luma
    FROM px
    """,
)
def q_multimodal_jpeg_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL baseline JPEG (ITU-T T.81) through the decode stage,
    hash-oracled (VERDICT r12 item 6 — the format a real multimodal
    corpus hits first, previously a lib-gated hook): each document
    becomes a genuine single-scan grayscale JPEG — stdlib+numpy encoder
    with the published Annex-K quantization and Huffman tables, real 2-D
    DCT, zigzag, DC-differential/AC-run-length entropy coding and 0xFF
    byte stuffing — whose pixels are 8x8-aligned SOLID TILES of value
    2*((doc_id + bx + 3*by) % 128). Constant blocks with even
    level-shifted values round-trip the lossy pipeline integer-EXACTLY
    (DC quant step 16: round(8v'/16)*16/8 = v' for even v'), while the
    per-tile variation forces real DC-differential chains across every
    magnitude category and the non-multiple-of-8 dimensions force
    partial-MCU edge replication. The mapInPandas decode stage parses
    the stream back with ``jpeg_image_decoder`` (marker walk, DHT
    rebuild from wire form, Huffman decode, dequantize + IDCT), and
    DuckDB recomputes the decoded features straight from the tile
    formula — a value-hash match proves encoder, entropy coding, and
    decoder agree pixel-exactly with independently-derived arithmetic.
    AC-coefficient (gradient/noise) content is bounded-error-checked in
    tests/test_streaming_multimodal.py, where the scan bytes of a known
    block are also pinned against hand-derived Annex-K codewords. Scale
    shape: two chained map-only Arrow stages on an (id)-projection, no
    shuffle."""
    from scraping_jobsdb_spark.operators.multimodal import (
        extract_image_features,
        jpeg_image_decoder,
    )
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    # The encode/decode stages are CPU-bound Python: their parallelism is
    # the id-projection's partition count, which follows the PARQUET FILE
    # COUNT (a compact table collapses the whole codec pipeline onto a
    # handful of tasks — the r13 100x sweep measured the JPEG row at
    # 284 s on ~4 tasks vs ~36 s spread across the machine). One
    # round-robin exchange of an 8-byte column is noise next to that; on
    # a real cluster the same explicit repartition is the standard move
    # before any Arrow stage whose cost is compute, not I/O.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            jpeg_encode_gray,
        )

        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 13, 8 + did % 11
                rows = [
                    bytes(
                        2 * ((did + x // 8 + 3 * (y // 8)) % 128)
                        for x in range(w)
                    )
                    for y in range(h)
                ]
                out["media_id"].append(did)
                out["content"].append(jpeg_encode_gray(rows))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")
    return extract_image_features(media, decoder=jpeg_image_decoder).select(
        "media_id", "width", "height", "mean_luma"
    )


@_register(
    "multimodal_wav_decode_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, 200 + doc_id % 97 AS n,
               8000 + (doc_id % 5) * 1000 AS rate
        FROM documents
    ), s AS (
        SELECT d.doc_id, d.n, d.rate,
               SUM(CAST((d.doc_id * 31 + i.i * 17) % 65536 - 32768 AS HUGEINT)
                   * ((d.doc_id * 31 + i.i * 17) % 65536 - 32768)) AS ss
        FROM d
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.n)) AS i) i
        GROUP BY 1, 2, 3
    )
    SELECT doc_id AS media_id,
           CAST(rate AS INT) AS sample_rate,
           CAST(FLOOR(n * 1000.0 / rate) AS BIGINT) AS duration_ms,
           CAST(FLOOR(SQRT(CAST(ss AS DOUBLE) / n)) AS INT) AS rms
    FROM s
    """,
)
def q_multimodal_wav_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL audio codec through the decode stage, hash-oracled: each
    document becomes a genuine RIFF/WAVE file (canonical fmt + data
    chunks, 16-bit mono PCM — the encoder is cross-checked against the
    stdlib ``wave`` reader in tests) whose samples follow the closed form
    ((id*31 + i*17) % 65536) - 32768. ``wav_audio_decoder`` walks the
    RIFF chunks inside the Arrow stage and DuckDB recomputes
    (sample_rate, duration_ms, rms) from the sample formula — both sides
    perform the identical IEEE double ops (sum-of-squares is exact in
    64-bit, one division, one sqrt, truncation), so the row value-hashes.
    Scale shape: two chained map-only Arrow stages, no shuffle."""
    from scraping_jobsdb_spark.operators.multimodal import (
        extract_audio_features,
        wav_audio_decoder,
    )
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    # The encode/decode stages are CPU-bound Python: their parallelism is
    # the id-projection's partition count, which follows the PARQUET FILE
    # COUNT (a compact table collapses the whole codec pipeline onto a
    # handful of tasks — the r13 100x sweep measured the JPEG row at
    # 284 s on ~4 tasks vs ~36 s spread across the machine). One
    # round-robin exchange of an 8-byte column is noise next to that; on
    # a real cluster the same explicit repartition is the standard move
    # before any Arrow stage whose cost is compute, not I/O.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            wav_encode_pcm16,
        )

        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                n = 200 + did % 97
                rate = 8000 + (did % 5) * 1000
                samples = [
                    ((did * 31 + i * 17) % 65536) - 32768 for i in range(n)
                ]
                out["media_id"].append(did)
                out["content"].append(wav_encode_pcm16(rate, samples))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")
    return extract_audio_features(media, decoder=wav_audio_decoder).select(
        "media_id", "sample_rate", "duration_ms", "rms"
    )


@_register(
    "multimodal_adpcm_decode_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, 300 + doc_id % 333 AS n,
               8000 + (doc_id % 5) * 1000 AS rate
        FROM documents
    ), s AS (
        SELECT d.doc_id, d.n, d.rate,
               SUM(CAST((d.doc_id * 37 + (i.i // 129) * 101) % 121 - 60
                        AS HUGEINT)
                   * ((d.doc_id * 37 + (i.i // 129) * 101) % 121 - 60)) AS ss
        FROM d
        CROSS JOIN LATERAL (SELECT unnest(range(0, d.n)) AS i) i
        GROUP BY 1, 2, 3
    )
    SELECT doc_id AS media_id,
           CAST(rate AS INT) AS sample_rate,
           CAST(FLOOR(n * 1000.0 / rate) AS BIGINT) AS duration_ms,
           CAST(FLOOR(SQRT(CAST(ss AS DOUBLE) / n)) AS INT) AS rms
    FROM s
    """,
)
def q_multimodal_adpcm_decode_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL COMPRESSED audio through the decode stage, hash-oracled
    (VERDICT r13 item 2 — the IMA-ADPCM codec built in r13 finally
    driver-evidenced): each document becomes a genuine IMA-ADPCM WAV
    (fmt tag 0x0011, RIFF fmt/fact/data chunks, 129-sample blocks —
    raw predictor + step index per block header, then the 4-bit nibble
    state machine) whose signal is a per-BLOCK-constant staircase,
    value (id*37 + block*101) % 121 - 60 for block = i // 129. The
    staircase is the strongest signal the lossy coder reproduces
    INTEGER-EXACTLY (within a block diff=0 encodes nibble 0, which at
    step index 0 moves the predictor by step>>3 = 0 and pins the index
    at 0; each block header re-seeds the predictor from the raw first
    sample), so unlike a single constant it exercises multi-block
    layout, header re-seeding, cross-block index carry, final-block
    padding AND the fact-chunk trim while staying closed-form:
    decoded[i] == staircase[i] exactly. ``adpcm_audio_decoder`` walks
    RIFF + the nibble state machine inside the Arrow stage; DuckDB
    recomputes (rate, duration_ms, rms) from the staircase formula —
    both sides do the identical IEEE ops (integer sum-of-squares, one
    division, one sqrt, truncation). Approximate-reconstruction
    behavior on non-constant signals (~40 dB SNR sine) is pinned in
    tests/test_streaming_multimodal.py. Scale shape: two chained
    map-only Arrow stages on an 8-byte projection repartitioned to
    defaultParallelism (the r13 compact-table lesson), no shuffle."""
    from scraping_jobsdb_spark.operators.multimodal import (
        adpcm_audio_decoder,
        extract_audio_features,
    )
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            wav_encode_adpcm,
        )

        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                n = 300 + did % 333
                rate = 8000 + (did % 5) * 1000
                samples = [
                    ((did * 37 + (i // 129) * 101) % 121) - 60
                    for i in range(n)
                ]
                out["media_id"].append(did)
                out["content"].append(
                    wav_encode_adpcm(rate, samples, block_samples=129)
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")
    return extract_audio_features(media, decoder=adpcm_audio_decoder).select(
        "media_id", "sample_rate", "duration_ms", "rms"
    )


@_register(
    "multimodal_y4m_frame_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, 3 + doc_id % 3 AS nf FROM documents
    ), fr AS (
        SELECT doc_id, unnest(range(0, nf)) AS f FROM d
    )
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           substr(sha256(repeat(
               chr(CAST(32 + (doc_id * 13 + f * 7) % 64 AS INT)), 288)),
               1, 16) AS frame_sha
    FROM fr WHERE f % 2 = 0
    """,
)
def q_multimodal_y4m_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL video container through the frame-sampling fan-out: each
    document becomes a genuine YUV4MPEG2 stream (the textual stream
    header + FRAME-marked raw 4:2:0 frames — what ``ffmpeg -f
    yuv4mpegpipe`` emits/consumes) of 3-5 16x12 frames whose bytes are a
    single value per frame, 32 + (id*13 + f*7) % 64 (ASCII range so the
    oracle can state the bytes as a VARCHAR). ``y4m_frame_splitter``
    parses the header tags and slices exact frame lengths inside the
    Arrow generator-UDTF stage, keeping every 2nd frame; DuckDB rebuilds
    each kept frame's 288 bytes with repeat(chr(v)) and sha256s them,
    so the fan-out is verified byte-for-byte. No shuffle; output is
    frame-row-per-video-row map-only."""
    from scraping_jobsdb_spark.operators.multimodal import (
        sample_video_frames,
        y4m_frame_splitter,
    )
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    # The encode/decode stages are CPU-bound Python: their parallelism is
    # the id-projection's partition count, which follows the PARQUET FILE
    # COUNT (a compact table collapses the whole codec pipeline onto a
    # handful of tasks — the r13 100x sweep measured the JPEG row at
    # 284 s on ~4 tasks vs ~36 s spread across the machine). One
    # round-robin exchange of an 8-byte column is noise next to that; on
    # a real cluster the same explicit repartition is the standard move
    # before any Arrow stage whose cost is compute, not I/O.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import y4m_encode

        flen = 16 * 12 * 3 // 2
        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    bytes([32 + (did * 13 + f * 7) % 64]) * flen
                    for f in range(3 + did % 3)
                ]
                out["media_id"].append(did)
                out["content"].append(y4m_encode(16, 12, frames))
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")
    return sample_video_frames(
        media, every_n=2, splitter=y4m_frame_splitter
    ).select("media_id", "frame_idx", "frame_sha")


@_register(
    "multimodal_mp4_demux",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               3 + doc_id % 4 AS n,
               600 * (1 + doc_id % 4) AS ts,
               40 + doc_id % 25 AS ticks,
               CASE doc_id % 4 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
                               WHEN 2 THEN 'vp09' ELSE 'av01' END AS codec,
               16 * (1 + doc_id % 5) AS w,
               16 * (1 + doc_id % 3) AS h
        FROM documents
    ), s AS (
        SELECT d.*, unnest(range(0, n)) AS i FROM d
    )
    SELECT doc_id AS media_id,
           CAST(i AS INT) AS frame_idx,
           substr(sha256(repeat(
               chr(CAST(32 + (doc_id * 13 + i * 7) % 64 AS INT)),
               CAST(20 + (doc_id + 3 * i) % 30 AS INT))), 1, 16)
               AS frame_sha,
           CAST(n * ticks * 1000 // ts AS BIGINT) AS duration_ms,
           CAST(ts AS INT) AS timescale,
           codec,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(n AS INT) AS n_samples
    FROM s WHERE i % 2 = 0
    """,
)
def q_multimodal_mp4_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 (ISO-BMFF 14496-12) through the video ingest pass a
    100 TB corpus actually runs FIRST — container metadata + demux, no
    bitstream decode: each document becomes a structurally-real MP4
    (``mp4_write``: ftyp/moov/mvhd/trak/tkhd/mdia/mdhd/hdlr/minf/stbl
    with live stsd/stts/stsc/stsz/stco tables + mdat) whose sample
    payloads are single-ASCII-value runs the oracle can restate with
    repeat(chr(v)). ONE Arrow stage then walks the box tree back
    (``mp4_metadata``: version-aware mvhd/tkhd fields, 16.16 fixed track
    dims, stsd fourcc) and demuxes the encoded samples
    (``mp4_sample_splitter``: stsz sizes + stco offsets -> exact byte
    ranges), keeping every 2nd sample — one output row per kept sample
    carrying the per-file metadata. DuckDB re-derives duration/codec/
    dims/sample-count from the generators and sha256s each sample's
    reconstructed bytes, so the whole container walk AND the demux
    arithmetic are verified byte-for-byte. Bitstream decode of the
    samples stays the documented lib-gated hook. Scale shape: two
    chained map-only Arrow stages on an (id)-projection, no shuffle;
    per-record failures isolate (malformed files drop, siblings
    survive)."""
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    # The encode/decode stages are CPU-bound Python: their parallelism is
    # the id-projection's partition count, which follows the PARQUET FILE
    # COUNT (a compact table collapses the whole codec pipeline onto a
    # handful of tasks — the r13 100x sweep measured the JPEG row at
    # 284 s on ~4 tasks vs ~36 s spread across the machine). One
    # round-robin exchange of an 8-byte column is noise next to that; on
    # a real cluster the same explicit repartition is the standard move
    # before any Arrow stage whose cost is compute, not I/O.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import mp4_write

        codecs = ["avc1", "hvc1", "vp09", "av01"]
        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 4
                samples = [
                    bytes([32 + (did * 13 + i * 7) % 64])
                    * (20 + (did + 3 * i) % 30)
                    for i in range(n)
                ]
                out["media_id"].append(did)
                out["content"].append(
                    mp4_write(
                        16 * (1 + did % 5),
                        16 * (1 + did % 3),
                        codecs[did % 4],
                        600 * (1 + did % 4),
                        40 + did % 25,
                        samples,
                    )
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")

    def demux(batches):
        import hashlib

        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            mp4_metadata,
            mp4_sample_splitter,
        )

        cols = (
            "media_id", "frame_idx", "frame_sha", "duration_ms",
            "timescale", "codec", "width", "height", "n_samples",
        )
        for pdf in batches:
            out = {c: [] for c in cols}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content)
                    meta = mp4_metadata(blob)
                    samples = mp4_sample_splitter(blob)
                except Exception:  # noqa: BLE001 — per-record isolation
                    continue
                for i, payload in enumerate(samples):
                    if i % 2:
                        continue
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(i)
                    out["frame_sha"].append(
                        hashlib.sha256(payload).hexdigest()[:16]
                    )
                    out["duration_ms"].append(meta["duration_ms"])
                    out["timescale"].append(meta["timescale"])
                    out["codec"].append(meta["codec"])
                    out["width"].append(meta["width"])
                    out["height"].append(meta["height"])
                    out["n_samples"].append(meta["n_samples"])
            yield pd.DataFrame(out, columns=list(cols))

    return media.mapInPandas(
        demux,
        "media_id bigint, frame_idx int, frame_sha string, "
        "duration_ms bigint, timescale int, codec string, width int, "
        "height int, n_samples int",
    )


@_register(
    "multimodal_mp4_jpeg_pipeline",
    oracle="""
    WITH d AS (
        SELECT doc_id, 2 + doc_id % 3 AS k FROM documents
    ), samp AS (
        SELECT d.doc_id, d.k, js.j,
               8 + (d.doc_id + js.j) % 13 AS w,
               8 + (d.doc_id + 2 * js.j) % 11 AS h
        FROM d CROSS JOIN LATERAL (SELECT unnest(range(0, d.k)) AS j) js
    ), px AS (
        SELECT s.doc_id, s.k, s.j, s.w, s.h,
               SUM(2 * ((s.doc_id + s.j + xs.x // 8 + 3 * (ys.y // 8))
                        % 128)) AS lum
        FROM samp s
        CROSS JOIN LATERAL (SELECT unnest(range(0, s.w)) AS x) xs
        CROSS JOIN LATERAL (SELECT unnest(range(0, s.h)) AS y) ys
        GROUP BY 1, 2, 3, 4, 5
    )
    SELECT doc_id AS media_id,
           CAST(j AS INT) AS sample_idx,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(lum // (w * h) AS INT) AS mean_luma,
           'mjpg' AS codec,
           CAST(k AS INT) AS n_samples
    FROM px
    """,
)
def q_multimodal_mp4_jpeg_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Container -> pixels, the full multimodal chain a real corpus runs
    (VERDICT r13 item 5 — demux output consumed as DECODER INPUT, not
    as metadata): each document becomes a Motion-JPEG-shaped MP4 — a
    real ISO-BMFF container (``mp4_write``, fourcc mjpg) whose 2-4
    samples are genuine baseline JPEGs (the r13 Annex-K codec) of
    per-document solid-tile images, muxed MULTI-CHUNK
    (samples_per_chunk=2: per-chunk stco offsets, a two-run stsc table
    and interleave pads inside mdat — the r13-ADVICE chunk walk
    exercised in the driver gate, where the contiguous-from-offsets[0]
    shortcut would hand the decoder pad-corrupted bytes). ONE Arrow
    stage then walks the container back (``mp4_metadata``), demuxes the
    encoded samples (``mp4_sample_splitter``, stsz+stsc+stco), and
    feeds each sample through the real JPEG entropy decode
    (``jpeg_image_decoder``) — one output row per sample with its
    decoded (width, height, mean_luma) plus the container's codec and
    sample count. The tiles are 8x8-aligned solids of even
    level-shifted values, so the lossy JPEG path is integer-exact and
    DuckDB restates every decoded pixel sum in closed form: a hash
    match verifies mux arithmetic, chunk-walk demux AND entropy decode
    end to end. Scale shape: two chained map-only Arrow stages on an
    8-byte projection repartitioned to defaultParallelism, no shuffle;
    per-record failures isolate."""
    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def encode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            jpeg_encode_gray,
            mp4_write,
        )

        for pdf in batches:
            out = {"media_id": [], "content": []}
            for did in pdf["doc_id"]:
                did = int(did)
                k = 2 + did % 3
                tiles = []
                for j in range(k):
                    w, h = 8 + (did + j) % 13, 8 + (did + 2 * j) % 11
                    rows = [
                        bytes(
                            2 * ((did + j + x // 8 + 3 * (y // 8)) % 128)
                            for x in range(w)
                        )
                        for y in range(h)
                    ]
                    tiles.append(jpeg_encode_gray(rows))
                out["media_id"].append(did)
                out["content"].append(
                    mp4_write(
                        8 + did % 13, 8 + did % 11, "mjpg", 1200, 40,
                        tiles, samples_per_chunk=2,
                    )
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(encode, "media_id bigint, content binary")

    def demux_decode(batches):
        import pandas as pd

        from scraping_jobsdb_spark.operators.multimodal import (
            jpeg_image_decoder,
            mp4_metadata,
            mp4_sample_splitter,
        )

        cols = (
            "media_id", "sample_idx", "width", "height", "mean_luma",
            "codec", "n_samples",
        )
        for pdf in batches:
            out = {c: [] for c in cols}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    blob = bytes(content)
                    meta = mp4_metadata(blob)
                    decoded = [
                        jpeg_image_decoder(s)
                        for s in mp4_sample_splitter(blob)
                    ]
                except Exception:  # noqa: BLE001 — per-record isolation
                    continue
                for j, (w, h, mean) in enumerate(decoded):
                    out["media_id"].append(int(mid))
                    out["sample_idx"].append(j)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_luma"].append(mean)
                    out["codec"].append(meta["codec"])
                    out["n_samples"].append(meta["n_samples"])
            yield pd.DataFrame(out, columns=list(cols))

    return media.mapInPandas(
        demux_decode,
        "media_id bigint, sample_idx int, width int, height int, "
        "mean_luma int, codec string, n_samples int",
    )


@_register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(f AS BIGINT) AS frame_idx,
           sha256(text || ':' || CAST(f AS VARCHAR)) AS frame_hex
    FROM documents, generate_series(0, 3, 2) AS g(f)
    WHERE text IS NOT NULL
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video frame-sampling stage (operators/multimodal.py:
    sample_video_frames) run end to end against an oracle: each document
    becomes a fake 4-frame video — header (n_frames, frame_len) + four
    32-byte frames, where frame f is the sha256 digest of 'text:f', all
    constructed JVM-side (sha2 → unhex → concat) — then the real
    mapInPandas generator-UDTF stage splits the payload per its header and
    keeps every 2nd frame. Emitting hex(frame) lets DuckDB state the
    expected frame bytes as the sha256 hex it can compute directly, so the
    binary fan-out (one video row → kept-frame rows) is verified
    byte-for-byte without blob slicing in the oracle."""
    from scraping_jobsdb_spark.operators.multimodal import (
        fake_frame_splitter,
        sample_video_frames,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    def be32(v: int) -> Column:
        return F.unhex(F.lit(f"{v:08x}"))

    def frame(f: int) -> Column:
        return F.unhex(
            F.sha2(F.concat(F.col("text"), F.lit(f":{f}")), 256)
        )

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            be32(4), be32(32), frame(0), frame(1), frame(2), frame(3)
        ).alias("content"),
    )
    frames = sample_video_frames(media, every_n=2, splitter=fake_frame_splitter)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


# Pure-PQ sibling of _IVFPQ_INT8_ORACLE (defined below): same int8 corpus,
# same derived m=8×k=16 codebook, same encode/ADC/refine arithmetic — but NO
# coarse quantizer: ADC scans every code (the exhaustive-PQ memory rung),
# so the centd/cn/assigned/probed stages are simply absent.
_PQ_INT8_ORACLE = r"""
    WITH s AS (
        SELECT vec_id, embedding,
               greatest(list_max(list_transform(embedding, x -> abs(x)))
                        / 127.0, 1e-12) AS scale
        FROM embeddings
    ), q8 AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(x / scale) AS BIGINT)) AS c
        FROM s
    ), cbd AS (
        SELECT CAST(vec_id % 16 AS INT) AS grp, i,
               round(CAST(SUM(CAST(c[i] AS DECIMAL(30,12))) AS DOUBLE)
                     / COUNT(*)) AS m
        FROM q8, unnest(range(1, 65)) AS t(i)
        GROUP BY 1, 2
    ), cbl AS (
        SELECT grp, list(m ORDER BY i) AS cw FROM cbd GROUP BY grp
    ), enc_terms AS (
        SELECT v.vec_id, CAST((i - 1) // 8 AS INT) AS j, b.grp,
               (CAST(v.c[i] AS DOUBLE) - b.cw[i])
               * (CAST(v.c[i] AS DOUBLE) - b.cw[i]) AS t
        FROM q8 v CROSS JOIN cbl b, unnest(range(1, 65)) AS u(i)
    ), codes AS (
        SELECT vec_id, j, grp AS code FROM (
            SELECT vec_id, j, grp,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY SUM(t), grp) AS rn
            FROM enc_terms GROUP BY vec_id, j, grp
        ) WHERE rn = 1
    ), adc AS (
        SELECT q.vec_id AS query_id, cd.vec_id,
               SUM(CAST(q.c[cd.j * 8 + d] AS DOUBLE)
                   * b.cw[cd.j * 8 + d]) AS pq_score
        FROM codes cd
        JOIN q8 q ON q.vec_id IN (0, 100, 200)
        JOIN cbl b ON b.grp = cd.code
        , unnest(range(1, 9)) AS u(d)
        WHERE cd.vec_id != q.vec_id
        GROUP BY 1, 2
    ), cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY pq_score DESC, vec_id) AS rk
            FROM adc
        ) WHERE rk <= 40
    ), refined AS (
        SELECT ca.query_id, ca.vec_id,
               CAST(list_dot_product(
                   list_transform(cv.c, x -> CAST(x AS DOUBLE)),
                   list_transform(qv.c, x -> CAST(x AS DOUBLE)))
                   AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(
                      cv.c, x -> CAST(x AS DOUBLE) * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(
                      qv.c, x -> CAST(x AS DOUBLE) * x)) AS DOUBLE)))
               AS cos
        FROM cand ca
        JOIN q8 cv ON cv.vec_id = ca.vec_id
        JOIN q8 qv ON qv.vec_id = ca.query_id
    )
    SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id)
                    AS INTEGER) AS rank
        FROM refined
    ) WHERE rank <= 10
    """


@_register("embedding_pq_topk", oracle=_PQ_INT8_ORACLE)
def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, exhaustive form (operators/pq.py): encode
    the corpus to m=8 one-byte code arrays, ADC-score EVERY code via literal
    lookup tables (no coarse quantizer — the memory rung of the ANN ladder,
    codes 32× smaller than float32 vectors; IVF adds the compute rung on
    top), exact-cosine re-rank of the top 4k candidates.

    HASH-ORACLED since r10 (r9 verdict item 3): the gate instance runs in
    the INT8-INTEGER domain with the SQL-derivable per-(vec_id%16)
    subspace-mean codebook — the embedding_ivfpq_topk recipe minus the
    coarse stage. Every encode distance, ADC table entry, and candidate
    score is a sum of small-integer products (exact in IEEE double in any
    order), so DuckDB replays encode → exhaustive ADC top-40 → exact
    re-rank bit-for-bit. The TRAINED float codebook path (pq_train
    k-means) keeps recall + determinism coverage in
    tests/test_similarity.py."""
    from scraping_jobsdb_spark.operators.pq import pq_encode, pq_topk

    corpus, query, codebook, _cents = _int8_ivfpq_inputs(spark, sf_dir)
    # arrow=True is SAFE here and ~2× faster: the int8 subspace-mean
    # codebook is integer-valued, so numpy and Catalyst distances are both
    # exact integers — bit-parity pinned by
    # test_pq_encode_arrow_equals_expression_on_int8_gate
    codes = pq_encode(corpus, codebook, arrow=True)
    return pq_topk(
        codes, codebook, query, k=10, refine_with=corpus, refine_factor=4
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


# Shared by embedding_ivfpq_topk, embedding_ann_index_topk and (with the
# deletion predicate appended) embedding_ann_index_txn_lifecycle: all three
# are row-identical under a shared quantizer (the in-memory vs persisted vs
# transactional form of the same index — pinned by test), so they share this
# oracle; the lifecycle adds its MoR-delete as a candidate filter via
# ``_ivfpq_int8_oracle``.
_IVFPQ_INT8_ORACLE = r"""
    WITH s AS (
        SELECT vec_id, label, embedding,
               greatest(list_max(list_transform(embedding, x -> abs(x)))
                        / 127.0, 1e-12) AS scale
        FROM embeddings
    ), q8 AS (
        SELECT vec_id, label,
               list_transform(embedding,
                              x -> CAST(round(x / scale) AS BIGINT)) AS c
        FROM s
    ), centd AS (
        SELECT label AS cell, i,
               round(CAST(SUM(CAST(c[i] AS DECIMAL(30,12))) AS DOUBLE)
                     / COUNT(*)) AS m
        FROM q8, unnest(range(1, 65)) AS t(i)
        GROUP BY 1, 2
    ), cn AS (
        SELECT cell, list(m ORDER BY i) AS cent,
               CASE WHEN sqrt(list_sum(list_transform(
                             list(m ORDER BY i), x -> x * x))) = 0
                    THEN 1.0
                    ELSE sqrt(list_sum(list_transform(
                             list(m ORDER BY i), x -> x * x)))
               END AS nc
        FROM centd GROUP BY cell
    ), cbd AS (
        SELECT CAST(vec_id % 16 AS INT) AS grp, i,
               round(CAST(SUM(CAST(c[i] AS DECIMAL(30,12))) AS DOUBLE)
                     / COUNT(*)) AS m
        FROM q8, unnest(range(1, 65)) AS t(i)
        GROUP BY 1, 2
    ), cbl AS (
        SELECT grp, list(m ORDER BY i) AS cw FROM cbd GROUP BY grp
    ), vn AS (
        SELECT vec_id, label, c,
               greatest(sqrt(CAST(list_sum(list_transform(
                   c, x -> CAST(x AS DOUBLE) * x)) AS DOUBLE)),
                   1e-12) AS nv
        FROM q8
    ), assigned AS (
        SELECT vec_id, c, cell FROM (
            SELECT v.vec_id, v.c, cn.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY CAST(list_dot_product(
                           list_transform(v.c, x -> CAST(x AS DOUBLE)),
                           cn.cent) AS DOUBLE) / (v.nv * cn.nc) DESC,
                           cn.cell
                   ) AS rn
            FROM vn v CROSS JOIN cn
        ) WHERE rn = 1
    ), enc_terms AS (
        SELECT v.vec_id, CAST((i - 1) // 8 AS INT) AS j, b.grp,
               (CAST(v.c[i] AS DOUBLE) - b.cw[i])
               * (CAST(v.c[i] AS DOUBLE) - b.cw[i]) AS t
        FROM q8 v CROSS JOIN cbl b, unnest(range(1, 65)) AS u(i)
    ), codes AS (
        SELECT vec_id, j, grp AS code FROM (
            SELECT vec_id, j, grp,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                      ORDER BY SUM(t), grp) AS rn
            FROM enc_terms GROUP BY vec_id, j, grp
        ) WHERE rn = 1
    ), probed AS (
        SELECT query_id, cell FROM (
            SELECT q.vec_id AS query_id, cn.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST(list_dot_product(
                           list_transform(q.c, x -> CAST(x AS DOUBLE)),
                           cn.cent) AS DOUBLE)
                           / (CASE WHEN sqrt(CAST(list_sum(list_transform(
                                  q.c, x -> CAST(x AS DOUBLE) * x))
                                  AS DOUBLE)) = 0 THEN 1.0
                              ELSE sqrt(CAST(list_sum(list_transform(
                                  q.c, x -> CAST(x AS DOUBLE) * x))
                                  AS DOUBLE)) END * cn.nc) DESC,
                           cn.cell
                   ) AS rn
            FROM q8 q CROSS JOIN cn WHERE q.vec_id IN (0, 100, 200)
        ) WHERE rn <= 3
    ), adc AS (
        SELECT p.query_id, a.vec_id,
               SUM(CAST(q.c[cd.j * 8 + d] AS DOUBLE)
                   * b.cw[cd.j * 8 + d]) AS pq_score
        FROM probed p
        JOIN assigned a USING (cell)
        JOIN codes cd ON cd.vec_id = a.vec_id
        JOIN q8 q ON q.vec_id = p.query_id
        JOIN cbl b ON b.grp = cd.code
        , unnest(range(1, 9)) AS u(d)
        WHERE a.vec_id != p.query_id
        GROUP BY 1, 2
    ), cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY pq_score DESC, vec_id) AS rk
            FROM adc
        ) WHERE rk <= 40
    ), refined AS (
        SELECT ca.query_id, ca.vec_id,
               CAST(list_dot_product(
                   list_transform(cv.c, x -> CAST(x AS DOUBLE)),
                   list_transform(qv.c, x -> CAST(x AS DOUBLE)))
                   AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(
                      cv.c, x -> CAST(x AS DOUBLE) * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(
                      qv.c, x -> CAST(x AS DOUBLE) * x)) AS DOUBLE)))
               AS cos
        FROM cand ca
        JOIN q8 cv ON cv.vec_id = ca.vec_id
        JOIN q8 qv ON qv.vec_id = ca.query_id
    )
    SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, vec_id)
                    AS INTEGER) AS rank
        FROM refined
    ) WHERE rank <= 10
    """


def _ivfpq_int8_oracle(
    deleted_pred: str | None = None, query_pred: str | None = None
) -> str:
    """The shared int8-IVFPQ oracle, optionally excluding MoR-deleted
    vectors from the candidate set (queries themselves stay eligible —
    deletion removes a vector from the INDEX, not from the caller's query
    frame, matching the DV-overlay read path) and/or swapping the 3-id
    gate query set for another predicate (the batch-probe row runs a
    corpus-slice query SET through the same settled state)."""
    sql = _IVFPQ_INT8_ORACLE
    if query_pred is not None:
        q_anchor = "WHERE q.vec_id IN (0, 100, 200)"
        assert q_anchor in sql
        sql = sql.replace(q_anchor, f"WHERE {query_pred}")
    if deleted_pred is None:
        return sql
    anchor = "WHERE a.vec_id != p.query_id"
    assert anchor in sql
    return sql.replace(anchor, f"{anchor} AND NOT ({deleted_pred})")


def _int8_ivfpq_inputs(spark: SparkSession, sf_dir: str):
    """The SQL-derivable int8-domain IVF-PQ gate configuration shared by the
    in-memory and persisted-index queries: (corpus, query, codebook, cents)
    where the corpus is int8 codes as array<double>, the coarse centroids
    are ROUNDED per-label decimal-exact means, and the m=8×k=16 codebook is
    ROUNDED per-(vec_id % 16) subspace means — all integer-valued, so every
    downstream distance/score is exact in IEEE double."""
    from decimal import ROUND_HALF_UP, Decimal

    from scraping_jobsdb_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # localCheckpoint: every consumer (the codebook aggregate below, the
    # create/add halves, the probe's query collect, the exact-refine join)
    # re-reads the materialized int8 codes instead of re-running the
    # parquet scan + quantize transform — the lifecycle query touches this
    # frame four times (r9 verdict item 4's commit-count diagnosis).
    corpus8 = (
        quantize_embeddings_int8(emb, carry_cols=["label"])
        .select(
            "vec_id",
            "label",
            F.col("codes").cast("array<double>").alias("embedding"),
        )
        .localCheckpoint()
    )
    # ONE corpus pass feeds BOTH codebook-scale tables: per-partition
    # (label, grp) vector sums from an Arrow kernel (no posexplode — the
    # 64× row blow-up plus its shuffle was the inputs leg's whole cost),
    # re-aggregated driver-side along each axis as PYTHON INTS. Every sum
    # is exact at every step: the codes are integer-valued doubles with
    # |Σ| ≤ 127·n ≪ 2^53, so float64 partial sums carry no rounding and
    # the int accumulation replays the old decimal-exact aggregate
    # bit-for-bit. The mean then replays the engines' arithmetic exactly:
    # double(exact sum) / count, then HALF_UP on that double (what
    # F.round / DuckDB round() do) — identical values to the
    # posexplode+decimal form this replaced (r9 verdict item 4: the
    # lifecycle is commit/job-count-bound, so the fix is fewer/cheaper
    # jobs at equal bits).
    def _partial_sums(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            lab = pdf["label"].to_numpy()
            grp = (pdf["vec_id"].to_numpy() % 16).astype(np.int64)
            out = []
            for lg in sorted(set(zip(lab.tolist(), grp.tolist()))):
                m = (lab == lg[0]) & (grp == lg[1])
                out.append(
                    (
                        int(lg[0]),
                        int(lg[1]),
                        X[m].sum(axis=0).tolist(),
                        int(m.sum()),
                    )
                )
            yield pd.DataFrame(out, columns=["label", "grp", "s", "n"])

    from scraping_jobsdb_spark.session import ship_package

    ship_package(spark)
    parts = corpus8.mapInPandas(
        _partial_sums, "label int, grp int, s array<double>, n long"
    ).collect()

    def mean_round(s: int, n: int) -> float:
        return float(
            Decimal(float(s) / n).quantize(Decimal(1), rounding=ROUND_HALF_UP)
        )

    lab_s: dict[tuple[int, int], int] = {}
    lab_n: dict[int, int] = {}
    grp_s: dict[tuple[int, int], int] = {}
    grp_n: dict[int, int] = {}
    # tuple-unpack the collected Rows: Row.__getattr__ per element cost
    # ~0.8 s of driver wall here (432k lookups, measured r14)
    for label, grp, s, n in parts:
        for pos, v in enumerate(s):
            iv = int(v)
            lab_s[(label, pos)] = lab_s.get((label, pos), 0) + iv
            grp_s[(grp, pos)] = grp_s.get((grp, pos), 0) + iv
        lab_n[label] = lab_n.get(label, 0) + n
        grp_n[grp] = grp_n.get(grp, 0) + n
    codebook = [
        [
            [
                mean_round(grp_s[(c, j * 8 + d)], grp_n[c])
                for d in range(8)
            ]
            for c in range(16)
        ]
        for j in range(8)
    ]
    cent_rows = [
        (lab, [mean_round(lab_s[(lab, p)], lab_n[lab]) for p in range(64)])
        for lab in sorted(lab_n)
    ]
    from scraping_jobsdb_spark.session import local_df

    cents = local_df(
        spark, cent_rows, "cell int, centroid array<double>"
    ).coalesce(1)
    corpus = corpus8.select("vec_id", "embedding")
    query = corpus.filter(F.col("vec_id").isin(0, 100, 200))
    return corpus, query, codebook, cents


@_register("embedding_ivfpq_topk", oracle=_IVFPQ_INT8_ORACLE)
def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.py ivfpq_topk): the composed FAISS-IVFADC
    shape — map-expression cell assignment (no crossJoin, no window
    shuffle), fused encode+assign scan, driver-baked probe lists that
    become partition pruning on a cell-partitioned codes table, ADC over
    the probed 3/10 cells only, exact-cosine re-rank of the top 4k. The
    scale path that replaces the exact GEMM near-dup at 100×.

    HASH-ORACLED since r9 (r8 verdict item 4) by running the gate instance
    in the INT8-INTEGER domain end to end — the int8 recipe
    (embedding_int8_cosine_topk) composed with the SQL-derivable-centroid
    recipe (embedding_ivf_topk): vectors are the proven round(x/scale)
    int8 codes, the coarse centroids are ROUNDED per-label decimal-exact
    means, and the m=8×k=16 PQ codebook is ROUNDED per-(vec_id%16)
    subspace means. Every ADC lookup table entry, encode distance, and
    candidate score is then a sum of small-integer products — exact in
    IEEE double regardless of accumulation order, so DuckDB replays the
    ENTIRE pruning path (assign → encode → probe → ADC top-40 → exact
    re-rank) bit-for-bit with no quantization epsilon anywhere; the
    cosines (assignment/probe/refine) are single √√×÷ chains over exact
    integers, the one construction already proven hash-stable. The
    TRAINED float path (pq_train k-means) keeps recall + determinism
    coverage in tests/test_similarity.py via embedding_pq_topk and the
    persisted-index queries."""
    from scraping_jobsdb_spark.operators.pq import ivfpq_topk

    corpus, query, codebook, cents = _int8_ivfpq_inputs(spark, sf_dir)
    return ivfpq_topk(
        corpus, query, codebook, n_centroids=10, n_probe=3, k=10,
        refine_factor=4, centroids=cents,
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


@_register(
    "reference_pipeline_e2e",
    oracle="""
    WITH grid AS (
        SELECT * FROM (VALUES
            ('data_engineer', 11000, 20000), ('data_engineer', 20000, 30000),
            ('data_engineer', 30000, 50000), ('data_analyst', 11000, 20000),
            ('data_analyst', 20000, 30000), ('data_analyst', 30000, 50000),
            ('software_engineer', 11000, 20000),
            ('software_engineer', 20000, 30000),
            ('software_engineer', 30000, 50000)
        ) g(kw, lo, hi)
    ), tot AS (
        SELECT kw, lo, hi,
               CAST(concat('0x', substr(md5(kw || '|' || lo || '|' || hi),
                    1, 8)) AS UBIGINT) % 70 AS t0,
               CAST(concat('0x', substr(md5('ids|' || kw || '|' || lo || '|'
                    || hi), 1, 8)) AS UBIGINT) AS base
        FROM grid
    ), ids AS (
        SELECT t.kw, t.lo, t.hi,
               CAST(100000 + (t.base + i.i) % 900000 AS VARCHAR) AS job_id
        FROM tot t
        CROSS JOIN LATERAL (
            SELECT unnest(range(0, CAST(CASE WHEN t.t0 < 5 THEN 0 ELSE t.t0
                                        END AS BIGINT))) AS i
        ) i
    ), imput AS (
        SELECT job_id, MIN(lo) AS imp_min, MAX(hi) AS imp_max
        FROM ids GROUP BY 1
    ), detail AS (
        SELECT job_id, imp_min, imp_max,
               CAST(concat('0x', substr(md5(job_id), 1, 8)) AS UBIGINT) AS h
        FROM imput
    )
    SELECT job_id,
           ['Data Engineer', 'Analyst', 'ML Engineer', 'Backend Developer']
               [CAST(h % 4 AS INT) + 1] AS job_title,
           ['Acme Ltd', 'Globex', 'Initech', 'Umbrella Corp']
               [CAST(h % 4 AS INT) + 1] AS company_name,
           'Great ' || ['Data Engineer', 'Analyst', 'ML Engineer',
                        'Backend Developer'][CAST(h % 4 AS INT) + 1]
               || ' role at '
               || ['Acme Ltd', 'Globex', 'Initech', 'Umbrella Corp']
                  [CAST(h % 4 AS INT) + 1] || '.' AS job_description,
           ['Central', 'Kwun Tong', 'Tsim Sha Tsui'][CAST(h % 3 AS INT) + 1]
               AS location,
           CAST(CASE WHEN h % 5 = 0
                THEN DATE '2026-08-13' - CAST(1 + h % 9 AS INT)
                ELSE DATE '2022-10-03' END AS VARCHAR) AS official_post_date,
           CASE WHEN h % 3 = 0 THEN CAST((20 + h % 30) * 1000 AS INT) END
               AS min_official_salary,
           CASE WHEN h % 3 = 0 THEN CAST((55 + h % 40) * 1000 AS INT) END
               AS max_official_salary,
           ['Entry Level', 'Middle', 'Senior'][CAST(h % 3 AS INT) + 1]
               AS career_level,
           'Degree' AS qualification,
           'Full Time' AS job_type,
           ['IT;Data', 'Finance;Accounting', 'Engineering;Hardware']
               [CAST(h % 3 AS INT) + 1] AS job_functions,
           'Information Technology' AS industry,
           CAST(imp_min AS INT) AS min_salary,
           CAST(imp_max AS INT) AS max_salary
    FROM detail
    """,
)
def q_reference_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN end-to-end path (SURVEY §3.1-3.3) as one run:
    ingest (param-grid fan-out → rate-limited fetch via mapInPandas →
    link explode → exactly-once raw memberships → dedup → catalog
    anti-join → detail fetch → date-partitioned lake write) → parse
    (HTML extraction over lake docs not yet parsed) → impute (salary
    intervals MERGEd into the parsed table) — against the deterministic
    offline site (sources/fake_site.py), exactly as the e2e pytest drives
    it. Returns the final parsed-and-imputed table. Independent of sf_dir
    by construction (the corpus is the fake site's).

    HASH-ORACLED since r14 (VERDICT r13 item 4 — the last rows-only row
    with a deterministic output): the fake site is a pure md5-seeded
    function, so DuckDB re-derives the ENTIRE pipeline output in closed
    form — the 3x3 param grid, per-combo corpus size and job-id stream
    (the md5-prefix hash restated as CAST('0x'||substr(md5(..),1,8) AS
    UBIGINT) — bit-equal to Python's int(md5[:8],16)), the cross-combo
    dedup (GROUP BY job_id), every detail-page field from the id hash
    (title/company and location/level/functions index-locked exactly as
    the site locks them), the salary-span and posted-date branches
    (including 'N days ago' against the pinned 2026-08-13 run date), the
    HTML-extraction outputs, and the impute MERGE (min lo / max hi over
    band memberships). A hash match therefore verifies fetch fan-out,
    pagination, link explode, exactly-once membership append, catalog
    anti-join, HTML parse AND the transactional MERGE in one row — the
    reference's Airflow DAG surface (airflow/dags/scrape_url.py,
    parse_html.py, impute SQL) had only pytest + rows-only evidence
    before."""
    import tempfile
    from datetime import date as _date

    from scraping_jobsdb_spark.pipelines.impute import impute
    from scraping_jobsdb_spark.pipelines.ingest import ingest
    from scraping_jobsdb_spark.pipelines.parse import parse
    from scraping_jobsdb_spark.sources.fake_site import fake_transport
    from scraping_jobsdb_spark.sources.txn import read_table_any

    base = tempfile.mkdtemp(prefix="sjs_ref_e2e_")
    ingest(
        spark,
        fake_transport,
        lake_path=f"{base}/lake",
        raw_path=f"{base}/raw",
        catalog_path=f"{base}/catalog",
        run_date=_date(2026, 8, 13),
        fetch_partitions=8,
    )
    parse(spark, f"{base}/lake", f"{base}/parsed")
    impute(spark, f"{base}/raw", f"{base}/parsed")
    # The driver's pandas canonicalizer cannot sort list columns, so the
    # array<string> job_functions column is serialized to a joined string
    # (the same workaround term_postings_index uses for its posting list;
    # also the reference's own CSV-export serialization, pipelines/export.py).
    # DATE surfaces as datetime.date objects from Spark but datetime64 from
    # DuckDB, so the driver's stringified value hash can never match —
    # serialize to ISO strings, the repo-wide date-output convention
    # (q_analytic.py:450) and the reference's own CSV-export serialization.
    return (
        read_table_any(spark, f"{base}/parsed")
        .withColumn("job_functions", F.array_join("job_functions", ";"))
        .withColumn(
            "official_post_date",
            F.date_format("official_post_date", "yyyy-MM-dd"),
        )
    )


@_register("embedding_ann_index_topk", oracle=_IVFPQ_INT8_ORACLE)
def q_embedding_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED ANN index probe (operators/pq.py write_ann_index +
    ann_index_topk): the IVF-PQ index materialized as a cell-PARTITIONED
    codes table plus two codebook-scale side tables, then queried — each
    query's probe list bakes into a ``cell IN (...)`` predicate, so
    partition pruning restricts the scan to n_probe of n_centroids
    directories; unprobed cell files are never listed or opened
    (PartitionFilters plan-asserted in tests/test_similarity.py). Exercises
    the driver on the pruned-read path itself, not just the in-memory twin.

    HASH-ORACLED since r9 (r8 verdict item 4): runs the SAME int8-domain
    SQL-derivable quantizer as embedding_ivfpq_topk (see
    ``_int8_ivfpq_inputs``) and — being row-identical to it under a shared
    quantizer (pinned by test) — shares its oracle VERBATIM; what this row
    adds over the twin is the driver's evidence that the write → partition-
    pruned read round trip preserves the exact result. The trained-float
    path keeps recall/pruning coverage in tests/test_similarity.py."""
    import tempfile

    from scraping_jobsdb_spark.operators.pq import (
        ann_index_topk,
        write_ann_index,
    )

    corpus, query, codebook, cents = _int8_ivfpq_inputs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="sjs_ann_q_")
    write_ann_index(corpus, path, codebook, n_centroids=10, centroids=cents)
    return ann_index_topk(
        spark, path, query, n_probe=3, k=10, refine_factor=4,
        refine_with=corpus,
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


@_register(
    "embedding_ann_index_txn_lifecycle",
    oracle=_ivfpq_int8_oracle("a.vec_id % 97 = 3"),
)
def q_embedding_ann_index_txn_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRANSACTIONAL ANN index, full lifecycle in one plan (operators/pq.py
    write_ann_index_txn family — the production posture of the persisted
    index): build the index over HALF the corpus as one atomic commit,
    admit the other half via add-after-train (a second atomic commit),
    MoR-DELETE a slice of vectors (a deletion vector — no cell data
    rewritten; the embedding-store GDPR path), then probe. The probe reads
    the union of per-cell manifest-stats-pruned scans (read_pruned:
    unprobed cells' files never open — the txn equivalent of partition
    pruning) with the DV overlay hiding deleted vectors.

    HASH-ORACLED since r9 (r8 verdict items 4+5): the quantizer is the
    shared SQL-derivable int8 configuration (``_int8_ivfpq_inputs``), so
    create(evens) + add(odds) ≡ the full corpus and the oracle is the
    twins' IVFPQ SQL with ONE extra candidate filter — the deletion
    predicate. That replaces the old 4-iteration pq_train (≈12 s at sf0.1,
    the row's whole budget overrun) with one aggregate+collect, cutting
    the lifecycle under the verdict's 8 s while UPGRADING its evidence
    from rows-only to value-hash. Trained-float lifecycle semantics
    (add-equals-rebuild, epoch-idempotent streaming admission,
    delete/time-travel, file skipping) keep their dedicated pytest
    coverage in tests/test_similarity.py."""
    import tempfile

    from scraping_jobsdb_spark.operators.pq import (
        ann_index_txn_add,
        ann_index_txn_delete,
        ann_index_txn_topk_batch,
        write_ann_index_txn,
    )

    corpus, query, codebook, cents = _int8_ivfpq_inputs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="sjs_annx_q_")
    write_ann_index_txn(
        corpus.filter(F.col("vec_id") % 2 == 0), path, codebook,
        n_centroids=10, centroids=cents,
    )
    ann_index_txn_add(spark, path, corpus.filter(F.col("vec_id") % 2 == 1))
    ann_index_txn_delete(spark, path, F.col("vec_id") % 97 == 3)
    # batch scorer: bit-identical to the per-query probe (pinned by test),
    # ONE pruned read + O(1) plan instead of per-query scan unions
    return ann_index_txn_topk_batch(
        spark, path, query, n_probe=3, k=10, refine_factor=4,
        refine_with=corpus,
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


# Settled txn-ANN index directories, one per sf_dir (VERDICT r12 item 2:
# the steady-state build happens outside the timed region, once per
# process; see q_scale_ops._STEADY_CACHE for the dedup-index siblings).
_ANN_STEADY_CACHE: dict[str, str] = {}


@_register(
    "ann_index_steady_probe",
    oracle=_ivfpq_int8_oracle("a.vec_id % 97 = 3"),
)
def q_ann_index_steady_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE probe of the PRE-BUILT transactional ANN index
    (VERDICT r12 item 2 — the retrieval-side member of the steady-state
    family beside fpindex/lshindex_steady_admission): the full lifecycle
    query above (``embedding_ann_index_txn_lifecycle``) rebuilds the
    index — create(evens) + add(odds) + MoR delete — inside the query
    every run, so its 5.43 s bench row measures commits, not retrieval.
    Here the identical index state is settled ONCE per process (cached
    per sf_dir) and the registered query pays only what a production
    query path pays: ONE batch probe through the manifest-stats-pruned
    per-cell read (unprobed cells' files never open) with the
    deletion-vector overlay applied — O(probed cells + refine), flat in
    corpus commits. Read-only, so re-runs are trivially deterministic;
    the oracle is the lifecycle twin's IVFPQ SQL verbatim (same settled
    state: evens + odds - deleted slice)."""
    import tempfile

    from scraping_jobsdb_spark.operators.pq import (
        ann_index_txn_add,
        ann_index_txn_delete,
        ann_index_txn_topk_batch,
        write_ann_index_txn,
    )

    corpus, query, codebook, cents = _int8_ivfpq_inputs(spark, sf_dir)
    path = _ANN_STEADY_CACHE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="sjs_annx_steady_")
        write_ann_index_txn(
            corpus.filter(F.col("vec_id") % 2 == 0), path, codebook,
            n_centroids=10, centroids=cents,
        )
        ann_index_txn_add(
            spark, path, corpus.filter(F.col("vec_id") % 2 == 1)
        )
        ann_index_txn_delete(spark, path, F.col("vec_id") % 97 == 3)
        _ANN_STEADY_CACHE[sf_dir] = path
    return ann_index_txn_topk_batch(
        spark, path, query, n_probe=3, k=10, refine_factor=4,
        refine_with=corpus,
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


@_register(
    "ann_index_batch_topk",
    oracle=_ivfpq_int8_oracle(
        "a.vec_id % 97 = 3", "q.vec_id % 5 = 0 AND q.vec_id < 500"
    ),
)
def q_ann_index_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH retrieval through the settled transactional ANN index
    (VERDICT r13 item 6): production retrieval is many-queries, and the
    batch prober's plan is O(1) in the query count — ONE multi-cell
    manifest-stats-pruned read of the union of all probed cells (unprobed
    cells' files never open), one broadcast (query_id, cell) equi-join,
    one vectorized ADC scoring stage, the shared top-k/refine tail —
    where the per-query form would issue a pruned read PER query. This
    row pushes a 100-query set (20% corpus slice, vec_id % 5 = 0;
    400 queries at the sf0.1 bench dir) through that path against the
    SAME settled index state as ``ann_index_steady_probe`` (one
    process-cached create(evens)+add(odds)+MoR-delete — the build stays
    outside the timed region), so the driver row evidences the batch
    economics, not the commit cost. The oracle is the shared int8-IVFPQ
    SQL with the query predicate swapped in — every ADC entry and
    refined cosine stays a sum of small-integer products, exact in IEEE
    double, for all 100 queries. Batch-vs-per-query row-identity is
    additionally pinned in tests/test_similarity.py."""
    import tempfile

    from scraping_jobsdb_spark.operators.pq import (
        ann_index_txn_add,
        ann_index_txn_delete,
        ann_index_txn_topk_batch,
        write_ann_index_txn,
    )

    corpus, _q3, codebook, cents = _int8_ivfpq_inputs(spark, sf_dir)
    path = _ANN_STEADY_CACHE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="sjs_annx_steady_")
        write_ann_index_txn(
            corpus.filter(F.col("vec_id") % 2 == 0), path, codebook,
            n_centroids=10, centroids=cents,
        )
        ann_index_txn_add(
            spark, path, corpus.filter(F.col("vec_id") % 2 == 1)
        )
        ann_index_txn_delete(spark, path, F.col("vec_id") % 97 == 3)
        _ANN_STEADY_CACHE[sf_dir] = path
    return ann_index_txn_topk_batch(
        spark, path,
        corpus.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 500)),
        n_probe=3, k=10, refine_factor=4, refine_with=corpus,
    ).withColumn("query_id", F.col("query_id").cast("bigint"))


@_register(
    "llm_corpus_prep",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ), quality AS (
        SELECT doc_id, text,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM corpus
        WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
          AND length(text) >= 20
    ), deduped AS (
        SELECT doc_id, text, n_tokens FROM (
            SELECT doc_id, text, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM quality
        ) WHERE rn = 1
    ), bench AS (
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents WHERE doc_id % 100 = 0
    ), clean AS (
        SELECT d.doc_id, d.n_tokens
        FROM deduped d
        WHERE d.doc_id % 100 <> 0
          AND md5(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))))
              NOT IN (SELECT fp FROM bench)
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0a' THEN 'test'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14' THEN 'val'
                ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM clean GROUP BY 1
    """,
)
def q_llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM training-data pipeline end to end, fully oracle-checked:
    ingest (with injected duplicates) → quality filter (token/char floors) →
    exact content dedup (keep lowest id) → decontamination against the
    benchmark fingerprint set → content-hash train/val/test split →
    per-split corpus stats. Composes dedup_exact, the textops token counter,
    the decontamination anti-join, and the md5-band split — each stage
    individually gate-green, the composition verified here as one plan.
    Scale shape: two hash shuffles (dedup digest, final split agg) and one
    broadcast semi-join (the tiny benchmark fingerprint set); everything
    else is map-side."""
    from scraping_jobsdb_spark.operators.textops import token_count

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    quality = corpus.withColumn(
        "n_tokens", token_count("text").cast("bigint")
    ).filter((F.col("n_tokens") >= 5) & (F.length("text") >= 20))
    deduped = dedup_first(
        quality.withColumn("__digest", F.md5("text")), ["__digest"], ["doc_id"]
    ).drop("__digest")
    norm_fp = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    bench = (
        docs.filter(F.col("doc_id") % 100 == 0).select(norm_fp.alias("fp")).distinct()
    )
    clean = (
        deduped.filter(F.col("doc_id") % 100 != 0)
        .withColumn("fp", norm_fp)
        .join(F.broadcast(bench), on="fp", how="left_anti")
    )
    pfx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    tagged = clean.select(
        "doc_id",
        "n_tokens",
        F.when(pfx < "0a", "test").when(pfx < "14", "val").otherwise("train").alias("split"),
    )
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@_register(
    "term_postings_index",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM toks GROUP BY term
    """,
)
def q_term_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + the sorted posting
    list (serialized as a comma-joined string: the driver's pandas
    canonicalizer cannot sort list-valued cells — the approx_distinct_
    sketch lesson — and a delimited string hashes identically everywhere).
    The retrieval-side artifact BM25/TF-IDF consume; one distinct + one
    aggregate shuffle, postings sorted under a total order so the index
    is byte-deterministic at any partitioning. At 100 TB the posting list
    per common term is large — this shape streams it through
    sort_array(collect_list) per term; terms are the shuffle key, so skew
    tooling (stop-term filters, max_df guards — see top_ngrams/winnowing)
    applies upstream."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).distinct()
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"),
    )


@_register(
    "leakage_safe_split_stats",
    oracle=r"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id,
               regexp_replace(text, '\s+\S+$', '') AS text
        FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        FROM corpus
    ), posn AS (
        SELECT doc_id, s, unnest(range(0, length(s) - 7)) AS pos FROM norm
    ), grams AS (
        SELECT doc_id, pos,
               (  ord(substr(s, pos + 1, 1))::BIGINT * 13163680
                + ord(substr(s, pos + 2, 1))::BIGINT * 805498697
                + ord(substr(s, pos + 3, 1))::BIGINT * 154885210
                + ord(substr(s, pos + 4, 1))::BIGINT * 362470373
                + ord(substr(s, pos + 5, 1))::BIGINT * 16974593
                + ord(substr(s, pos + 6, 1))::BIGINT * 66049
                + ord(substr(s, pos + 7, 1))::BIGINT * 257
                + ord(substr(s, pos + 8, 1))::BIGINT
               ) % 1000000007 AS h
        FROM posn
    ), winm AS (
        SELECT doc_id, h, min(h) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
        ) AS wmin
        FROM grams
    ), fps AS (
        SELECT DISTINCT doc_id, h FROM winm WHERE h = wmin
    ), rare AS (
        SELECT h FROM fps GROUP BY h HAVING COUNT(*) <= 50
    ), pruned AS (
        SELECT f.doc_id, f.h FROM fps f JOIN rare USING (h)
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_fp FROM pruned GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
        FROM pruned a JOIN pruned b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sizes sa ON s.id_a = sa.doc_id
        JOIN sizes sb ON s.id_b = sb.doc_id
        WHERE s.shared_fp * 1000 >= 800 * least(sa.n_fp, sb.n_fp)
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ), reach(id, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.id
    ), comp AS (
        SELECT id, MIN(label) AS component FROM reach GROUP BY id
    ), assign AS (
        SELECT c.doc_id, COALESCE(p.component, c.doc_id) AS cluster_id
        FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id
    ), tagged AS (
        SELECT doc_id, cluster_id,
               CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '0a'
                        THEN 'test'
                    WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '14'
                        THEN 'val'
                    ELSE 'train' END AS split
        FROM assign
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM tagged GROUP BY split
    """,
)
def q_leakage_safe_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware splitting (operators/sampling.py:leakage_safe_split):
    near-dup CLUSTERS are the unit of train/val/test assignment, so two
    near-copies can never straddle an eval boundary — the leakage that a
    per-document hash split silently permits. Same injected-near-dup
    corpus and containment-pair stage as dedup_pipeline_winnowing; the
    oracle re-resolves clusters with a recursive CTE and re-derives the
    cluster-hash bands, verifying the per-split counts hash-exactly. The
    no-straddle invariant itself is asserted as a property test."""
    from scraping_jobsdb_spark.operators.sampling import leakage_safe_split
    from scraping_jobsdb_spark.operators.textops import (
        fingerprint_containment_pairs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    corpus = docs.unionByName(near)
    pairs = fingerprint_containment_pairs(
        corpus, threshold_milli=800, k=8, w=4, max_df=50
    )
    tagged = leakage_safe_split(corpus, pairs)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@_register(
    "doc_bigram_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE text IS NOT NULL
    ), grams AS (
        SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
        FROM toks, unnest(range(1, len(ws))) AS t(i)
    ), bc AS (
        SELECT prev, cur, COUNT(*) AS bc FROM grams GROUP BY prev, cur
    ), ctx AS (
        SELECT prev, SUM(bc) AS ctx FROM bc GROUP BY prev
    ), vocab AS (
        SELECT COUNT(DISTINCT term) AS v FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents WHERE text IS NOT NULL
        )
    ), scored AS (
        SELECT g.doc_id,
               CAST(ROUND(-ln((b.bc + 1)
                              / CAST(c.ctx + (SELECT v FROM vocab) AS DOUBLE)),
                          9) AS DECIMAL(30,9)) AS s
        FROM grams g
        JOIN bc b ON b.prev = g.prev AND b.cur = g.cur
        JOIN ctx c ON c.prev = g.prev
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS surprisal_nats
    FROM scored GROUP BY doc_id
    """,
)
def q_doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM perplexity filter (operators/textops.py bigram_surprisal —
    the CCNet/KenLM-style quality score, new r7): per-doc mean surprisal
    under the corpus's own add-one-smoothed bigram model. One level up
    from ``doc_unigram_surprisal``: it scores word ORDER, catching
    shuffled/templated text unigram stats can't see. Map-only bigram build
    (zip-with-tail, no per-position self-join), one (prev, cur) count
    aggregate whose context rollup is derived from the SAME table, hash
    join back onto the bigram stream, per-doc aggregate. Per-token nats
    rounded to 9 dp then DECIMAL-summed (the engine's ln-portability
    rule) → fully value-hash oracled."""
    from scraping_jobsdb_spark.operators.textops import bigram_surprisal

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return bigram_surprisal(docs)


@_register(
    "doc_unigram_surprisal",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL
    ), model AS (
        SELECT term, COUNT(*) AS tc FROM toks GROUP BY term
    ), total AS (
        SELECT CAST(SUM(tc) AS DOUBLE) AS tt FROM model
    ), scored AS (
        SELECT t.doc_id,
               CAST(ROUND(-ln(m.tc / (SELECT tt FROM total)), 9)
                    AS DECIMAL(30,9)) AS s
        FROM toks t JOIN model m USING (term)
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(s) AS DOUBLE) / COUNT(*) AS surprisal_nats
    FROM scored GROUP BY doc_id
    """,
)
def q_doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (operators/textops.py:unigram_surprisal):
    per-doc mean surprisal under the corpus's own unigram model — low =
    boilerplate of common words, high = rare-word noise; both tails are
    quality-filter cuts. TF-IDF's plan family (one term aggregate,
    broadcast model join, per-doc aggregate); per-token nats rounded to
    9 dp then DECIMAL-summed so the mean is engine-exact."""
    from scraping_jobsdb_spark.operators.textops import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return unigram_surprisal(docs)




@_register(
    "txn_time_travel_audit",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(NULL AS VARCHAR) AS sales_channel
        FROM orders WHERE o_orderkey % 7 = 0
    ), v2 AS (
        SELECT * FROM v1
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE), 'web'
        FROM orders WHERE o_orderkey % 7 = 1
    ), v3 AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice + 100.0 AS DOUBLE)
                    ELSE o_totalprice END AS o_totalprice,
               sales_channel
        FROM v2
    ), audits AS (
        SELECT 1 AS version, * FROM v1
        UNION ALL SELECT 2, * FROM v2
        UNION ALL SELECT 3, * FROM v3
        UNION ALL SELECT 4, * FROM v1
    )
    SELECT version,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN sales_channel IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_channel,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
    FROM audits GROUP BY version
    """,
)
def q_txn_time_travel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot TIME TRAVEL + additive SCHEMA EVOLUTION + RESTORE in one
    audited lifecycle (sources/txn.py read(version)/append/update_where/
    restore — the Delta/Iceberg `VERSION AS OF` + `RESTORE TABLE`
    surface): v1 creates the table, v2 appends a frame carrying a NEW
    column (additive evolution — old files read through the widened
    schema as nulls, Parquet scans by name), v3 runs a copy-on-write
    UPDATE, then `restore(1)` commits v4 whose LIVE read must equal the
    v1 snapshot bit-for-bit (restore re-points the manifest at v1's
    files — no data rewrite, which is why it is O(1)). The audit reads
    EVERY version through the time-travel API and aggregates each into
    (rows, exact DECIMAL cents, evolved-column count, status count) —
    the whole history value-hash replays against SQL reconstructing the
    four states. Each aggregate is snapshot-file-sized; history length,
    not corpus size, bounds the audit."""
    import tempfile

    from scraping_jobsdb_spark.sources.txn import TxnTable

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = TxnTable.create(
        spark, tempfile.mkdtemp(prefix="sjs_tt_q_"), base.repartition(4)
    )
    incoming = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 1)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.lit("web").alias("sales_channel"),
        )
    )
    t.append(incoming)  # additive evolution: new column widens the schema
    t.update_where(
        F.col("o_orderstatus") == "F",
        {"o_totalprice": (F.col("o_totalprice") + 100.0).cast("double")},
    )
    t.restore(1)

    def audit(version: int, df: DataFrame) -> DataFrame:
        cents = F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        )
        chan = (
            F.sum(F.col("sales_channel").isNotNull().cast("bigint"))
            if "sales_channel" in df.columns
            else F.lit(0).cast("bigint")
        )
        return df.agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            cents.alias("sum_cents"),
            chan.alias("n_channel"),
            F.sum(
                (F.col("o_orderstatus") == "F").cast("bigint")
            ).alias("n_finished"),
        ).select(
            "version",
            "n_rows",
            "sum_cents",
            F.coalesce(F.col("n_channel"), F.lit(0)).alias("n_channel"),
            "n_finished",
        )
    out = audit(1, t.read(version=1))
    for v, df in ((2, t.read(version=2)), (3, t.read(version=3)), (4, t.read())):
        out = out.unionByName(audit(v, df))
    return out
