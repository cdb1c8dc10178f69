"""JSONL source with PERMISSIVE corrupt-record tolerance (SURVEY §2
A-rows): newline-delimited JSON is THE interchange format for LLM text
corpora, and real crawls always carry a fraction of malformed lines —
the ingestion contract is "parse what parses, account for what
doesn't, never fail the job".

The declared key stages a JSONL file from the documents table PLUS one
deterministic corrupt line, reads it back with an explicit schema in
PERMISSIVE mode (the default: a malformed line becomes an all-null
row instead of killing the scan — DROPMALFORMED/FAILFAST are the other
two policies), and emits a per-language parse census in which the
corrupt line is first-class.  The oracle reconstructs the census
relationally from documents plus the known corrupt row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: declared frame bound — docs below this id are staged as JSONL
JSONL_DOC_MAX = 100


def _staged_jsonl(sf_dir):
    """Stage documents (doc_id < JSONL_DOC_MAX) as one JSONL file with
    ONE malformed line appended; idempotent via the shared digest-keyed,
    clear-first staging contract (sources/staging.py)."""
    import json as _json
    import os as _os

    from etl_builder_spark.sources.staging import staged

    src = _os.path.join(sf_dir, "documents.parquet")

    def _build(stage):
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        t = _pq.read_table(src, columns=["doc_id", "lang", "n_chars"])
        t = t.filter(_pc.less(t["doc_id"], JSONL_DOC_MAX))
        with open(_os.path.join(stage, "docs.jsonl"), "w") as f:
            for doc_id, lang, n_chars in zip(
                t["doc_id"].to_pylist(), t["lang"].to_pylist(), t["n_chars"].to_pylist()
            ):
                f.write(
                    _json.dumps(
                        {"doc_id": doc_id, "lang": lang, "n_chars": n_chars},
                        sort_keys=True,
                    )
                    + "\n"
                )
            f.write('{"doc_id": broken, this is not json\n')

    return staged("etl_builder_spark_jsonl", sf_dir, src, _build)


@register(
    "scan_jsonl_permissive",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id < {JSONL_DOC_MAX}
        GROUP BY lang
        UNION ALL
        SELECT '__corrupt__' AS lang,
               CAST(1 AS BIGINT) AS n_docs,
               CAST(NULL AS BIGINT) AS total_chars
        ORDER BY lang
    """,
    tags=("A-jsonl", "ingest-tolerant"),
)
def scan_jsonl_permissive(spark, sf_dir):
    """PERMISSIVE JSONL ingestion as a declared, hash-checked surface:
    the staged corpus file carries one malformed line; the explicit-
    schema PERMISSIVE read turns it into an all-null row (doc_id IS
    NULL is the corrupt marker — every genuine line has one), and the
    census reports it as the '__corrupt__' language bucket alongside
    the real per-language counts.  The oracle rebuilds the census from
    the documents table plus the known corrupt row, so the whole
    write → distributed line scan → JSON parse → tolerance path is
    under the t2 hash.  (The `_corrupt_record` side channel captures
    the raw offending text when a quarantine sink needs it; the census
    here keys on the null-field signature, which needs no extra
    column.)

    100 TB posture: the JSON lines source splits by file and by range
    within uncompressed files, parses JVM-side (Jackson inside
    whole-stage codegen — zero Python), and the explicit schema skips
    the schema-inference pre-pass that would double-scan a 100 TB
    corpus.  PERMISSIVE is the only policy that keeps a petabyte job
    alive through the crawl's inevitable bad lines while the census
    quantifies exactly what was lost — the same ledger discipline as
    the curation gates (llm/curation.py)."""
    stage = _staged_jsonl(sf_dir)
    # pin session runtime confs the same way every declared query does
    load_table(spark, sf_dir, "documents")
    df = (
        spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
        .option("mode", "PERMISSIVE")
        .json(stage + "/docs.jsonl")
    )
    label = F.when(F.col("doc_id").isNull(), F.lit("__corrupt__")).otherwise(
        F.col("lang")
    )
    return (
        df.groupBy(label.alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )
