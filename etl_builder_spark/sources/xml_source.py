"""Native XML source (Spark 4, SURVEY §2 A-rows): the last major file
format in the ingestion matrix (parquet/ORC/CSV/JSON/JSONL/text/
binaryFile/XML) — feeds, sitemaps, legacy enterprise exports, and
Wikipedia-style dumps all arrive as XML, and Spark 4 folds the
spark-xml package into the engine as a first-class FileFormat.

The declared key stages an XML corpus from the documents table (one
<doc id="..."> element per document, the id as an ATTRIBUTE so the
attribute-parsing path is exercised, text fields entity-escaped),
reads it back with an explicit schema + rowTag, and emits a
per-language census the oracle rebuilds relationally — write →
distributed XML parse → attribute/element extraction → census, all
under the t2 hash.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: declared frame bound — docs below this id are staged as XML
XML_DOC_MAX = 100


def _staged_xml(sf_dir):
    """Stage documents (doc_id < XML_DOC_MAX) as one XML file, doc_id
    as an attribute, lang/n_chars as child elements; idempotent via
    the shared digest-keyed, clear-first staging contract."""
    import os as _os
    from xml.sax.saxutils import escape as _escape

    from etl_builder_spark.sources.staging import staged

    src = _os.path.join(sf_dir, "documents.parquet")

    def _build(stage):
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        t = _pq.read_table(src, columns=["doc_id", "lang", "n_chars"])
        t = t.filter(_pc.less(t["doc_id"], XML_DOC_MAX))
        with open(_os.path.join(stage, "docs.xml"), "w") as f:
            f.write("<docs>\n")
            for doc_id, lang, n_chars in zip(
                t["doc_id"].to_pylist(), t["lang"].to_pylist(), t["n_chars"].to_pylist()
            ):
                f.write(
                    f'  <doc id="{doc_id}"><lang>{_escape(lang)}</lang>'
                    f"<n_chars>{n_chars}</n_chars></doc>\n"
                )
            f.write("</docs>\n")

    return staged("etl_builder_spark_xml", sf_dir, src, _build)


@register(
    "scan_xml_source",
    oracle=f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MAX(doc_id) AS max_doc_id
        FROM documents
        WHERE doc_id < {XML_DOC_MAX}
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("A-xml", "ingest"),
)
def scan_xml_source(spark, sf_dir):
    """The native XML source as a declared, hash-checked surface: the
    staged corpus file parses via ``rowTag`` row splitting with an
    explicit schema (no inference pre-pass), the document id comes
    from an XML ATTRIBUTE (the ``_id`` convention) and the measures
    from child elements, and the per-language census must equal the
    relational oracle over the same frame — so row boundary detection,
    attribute vs element extraction, and entity unescaping are all
    under the hash.

    100 TB posture: the XML FileFormat splits by file (and within
    files for splittable codecs when rowTags don't span boundaries),
    parses JVM-side (StAX — zero Python), and the explicit schema
    avoids the full-corpus inference scan; one warning for petabyte
    dumps is that a SINGLE giant XML file without internal splits
    serializes into one task — shard dumps at write time, exactly as
    this fixture's one-file-per-stage layout would be sharded."""
    stage = _staged_xml(sf_dir)
    # pin session runtime confs the same way every declared query does
    load_table(spark, sf_dir, "documents")
    df = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("_id BIGINT, lang STRING, n_chars BIGINT")
        .load(stage)
    )
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.max("_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )
