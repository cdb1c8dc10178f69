"""Python UDTF surface (SURVEY.md §2 K4): table functions that emit
multiple rows per input row. The declared query tokenizes with
positions through a real `@udtf` class and is checked exactly against
the oracle's positional unnest — proving the UDTF path produces
relational output identical to the declarative form.

(As with all Python paths: the UDTF is the demonstration of the seam;
pure tokenization would normally stay JVM-side via posexplode.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


def _tokenize_udtf():
    """Build the UDTF lazily (decorating at import time would need an
    active session for DDL parsing)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", IntegerType()),
            StructField("token", StringType()),
        ]
    )

    @udtf(returnType=schema)
    class TokenizeWithPos:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" ")):
                if tok:
                    yield doc_id, i + 1, tok

    return TokenizeWithPos


@register(
    "udtf_tokenize_pos",
    oracle="""
        SELECT doc_id, pos, token FROM (
            SELECT doc_id,
                   CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
            WHERE doc_id < 50
        ) t
        WHERE token <> ''
    """,
    tags=("K4",),
)
def udtf_tokenize_pos(spark, sf_dir):
    # Arrow-optimized UDTF evaluation (Spark 4): batches cross the
    # Python boundary as Arrow instead of pickled rows —
    # ArrowEvalPythonUDTF in the plan, same results, and it keeps the
    # repo's zero-BatchEvalPython invariant (plan-swept in
    # tests/test_plans.py).  The enabling conf is pinned session-wide
    # in session._pin_runtime_confs (load_table runs it on every call),
    # never mutated here — per-operator conf writes made plan shapes
    # depend on query build order (ADVICE r4).
    spark.udtf.register("tokenize_pos", _tokenize_udtf())
    load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50).createOrReplaceTempView(
        "docs_head"
    )
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM docs_head d, LATERAL tokenize_pos(d.doc_id, d.text) t
        """
    )


@register(
    "fn_json_variant",
    oracle="""
        SELECT event_id,
               TRY_CAST(CASE WHEN json_valid(props)
                             THEN json_extract_string(props, '$.k') END
                        AS BIGINT) AS k_val
        FROM events
    """,
    tags=("H7-variant",),
)
def fn_json_variant(spark, sf_dir):
    """Spark 4 VariantType path: try_parse_json → try_variant_get.
    Extracted value is identical to classic JSON-path extraction, so
    the oracle stays exact; the try_ forms make malformed JSON a
    defined NULL on both engines (extremetext shape) instead of a
    FAILFAST parse error."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("k_val"),
    )


def _bigram_udtf():
    """Word-bigram exploder UDTF, built lazily (DDL parse needs a
    session).  Emits (doc_id, pos, bigram) — one row per adjacent
    token pair, 1-based position of the pair's first token."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", IntegerType()),
            StructField("bigram", StringType()),
        ]
    )

    @udtf(returnType=schema)
    class BigramExplode:
        def eval(self, doc_id: int, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield doc_id, i + 1, toks[i] + " " + toks[i + 1]

    return BigramExplode


@register(
    "udtf_ngram_explode",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 50
        ),
        i AS (
            SELECT doc_id, toks,
                   unnest(range(1, len(toks))) AS p
            FROM t
        )
        SELECT doc_id,
               CAST(p AS INTEGER) AS pos,
               toks[p] || ' ' || toks[p + 1] AS bigram
        FROM i
    """,
    tags=("K4", "TEXT-ngram"),
)
def udtf_ngram_explode(spark, sf_dir):
    """Table-function n-gram exploder (SURVEY §2 K4, VERDICT r9 item
    5): a real `@udtf` class emits one row per adjacent word pair with
    its 1-based position; the oracle derives the identical row set
    declaratively (split → positional unnest → neighbor index).  This
    is the row-EXPANDING Python seam (1 input row → n-1 output rows)
    complementing udtf_tokenize_pos, and the relational shape under
    every n-gram feature builder (shingling, PMI, language models).

    Exactness: pure string surgery on single-space-tokenized text —
    the UDTF's split(' ') and the oracle's string_split agree
    byte-for-byte, and position arithmetic is integer-exact.

    100 TB posture: the UDTF crosses the Python boundary as Arrow
    batches (ArrowEvalPythonUDTF — the session pins the conf;
    BatchEvalPython stays banned repo-wide); the expansion is
    embarrassingly row-local (zero shuffle), so the operator scales as
    a map stage.  Production n-gramming would stay JVM-side via
    split+posexplode+array-zip; the UDTF is the demonstration that the
    Python table-function path produces relationally identical output."""
    spark.udtf.register("bigram_explode", _bigram_udtf())
    load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50).createOrReplaceTempView(
        "docs_head_bigram"
    )
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.bigram
        FROM docs_head_bigram d, LATERAL bigram_explode(d.doc_id, d.text) t
        """
    )
