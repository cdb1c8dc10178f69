"""binaryFile source (SURVEY §2 A-rows / multimodal ingestion): the
Spark-native way to ingest opaque blobs (images, audio, model shards)
as (path, modificationTime, length, content) rows — the entry point of
every multimodal pipeline before the mapInPandas decode stage
(llm/codecs.py, llm/multimodal.py).

The declared key stages one blob per document (bytes = the document's
utf-8 text, so the relational oracle can recompute both the byte
length and the md5 digest from the documents table alone) and proves
the source end-to-end: directory scan → binary content → path-derived
key → digest, hash-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: declared frame bound — one blob per doc below this id
BLOB_DOC_MAX = 50


def _staged_blob_dir(spark, sf_dir):
    """Stage one .bin blob per document (doc_id < BLOB_DOC_MAX), bytes
    = utf-8 text; idempotent via the shared digest-keyed, clear-first
    staging contract (sources/staging.py) — same-basename corpora can
    never collide and a shrunken BLOB_DOC_MAX can never leave stale
    doc_*.bin files behind for the unfiltered directory scan."""
    import os as _os

    from etl_builder_spark.sources.staging import staged

    src = _os.path.join(sf_dir, "documents.parquet")

    def _build(stage):
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        t = _pq.read_table(src, columns=["doc_id", "text"])
        t = t.filter(_pc.less(t["doc_id"], BLOB_DOC_MAX))
        for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            payload = text.encode("utf-8")
            if not payload:
                # Spark's binaryFile scan plans no row for a 0-byte
                # file (extremetext sweep: 38 of 40 rows) - an empty
                # payload has no blob to ingest, on either engine
                continue
            with open(_os.path.join(stage, f"doc_{doc_id:06d}.bin"), "wb") as f:
                f.write(payload)

    return staged("etl_builder_spark_blobs", sf_dir, src, _build)


@register(
    "scan_binaryfile_blobs",
    oracle=f"""
        -- DISTINCT doc_id (round-12 degenerate sweep): the stage holds
        -- ONE file per id (duplicate rows overwrite the same path), so
        -- the relational twin is keyed per id too
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM (
            SELECT DISTINCT doc_id, text FROM documents
            WHERE doc_id < {BLOB_DOC_MAX} AND octet_length(encode(text)) > 0
        )
        ORDER BY doc_id
    """,
    tags=("A-binaryfile", "multimodal-ingest"),
)
def scan_binaryfile_blobs(spark, sf_dir):
    """The `binaryFile` source as a declared, hash-checked surface —
    the blob-ingestion path a multimodal corpus enters Spark through:
    one .bin file per document is staged on disk, read back via
    `spark.read.format("binaryFile")` (path, length, content), keyed
    by a path-derived doc_id, and digested with md5(content).  The
    oracle recomputes byte length and digest RELATIONALLY from the
    documents table (blob bytes are the utf-8 text by construction),
    so the whole file-system round trip — write, directory scan,
    binary read, path parse, digest — is under the t2 hash.

    100 TB posture: binaryFile is a real FileFormat — the directory
    listing distributes, each file is one row in one task, and
    `pathGlobFilter`/partitioned layouts prune exactly like parquet
    scans; content stays a byte column until an Arrow-batched decode
    stage consumes it (llm/multimodal.py), so nothing row-pickles.
    The per-file-row model is for BLOB-sized objects (images, audio
    clips); at millions of tiny files the same bytes belong in
    parquet binary columns (etl_small_file_compaction is the
    remedy operator)."""
    stage = _staged_blob_dir(spark, sf_dir)
    # touch documents first so the session runtime confs are pinned the
    # same way every other declared query pins them (load_table side
    # effect), keeping plan shapes independent of key build order
    load_table(spark, sf_dir, "documents")
    blobs = spark.read.format("binaryFile").load(stage)
    doc_id = F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("bigint")
    return (
        blobs.select(
            doc_id.alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )
