"""Candidate-bounded dedup grows linearly in corpus size: on k disjoint
copies of the corpus, MinHash banding and the inverted trigram index
must return exactly k times the candidate pairs of one copy.  A
candidate join that fell back to all pairs would grow by about k²."""

from __future__ import annotations

from functools import reduce

import pytest
from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower
from etl_builder_spark.llm.dedup import _band_collisions, _minhash_sig_bands
from etl_builder_spark.llm.sparse_sim import SPARSE_DF_CEILING, shingle_tf
from etl_builder_spark.llm.text import df_ceiling_tokens, shared_token_pairs
from etl_builder_spark.session import load_table
from tests.conftest import SF_DIR

#: doc_id shift per copy, above every id the corpus and its plants use
DOC_COPY_STRIDE = 1_000_000


def _copies(spark, n: int):
    """n disjoint copies of the corpus documents as one in-memory frame.
    Copy k > 0 shifts doc_id by k * DOC_COPY_STRIDE and maps every token
    t to md5(t:k)[:8], an injective per-copy vocabulary: each copy keeps
    the corpus's shingle overlaps, and no two copies share a shingle."""
    base = load_table(spark, SF_DIR, "documents").select(
        "doc_id", fold_lower("text").alias("text")
    )
    # SQL text, not a Column-API lambda, so the JVM-wide lambda counter
    # that later keys' plan text prints does not move
    copies = [base] + [
        base.select(
            (F.col("doc_id") + k * DOC_COPY_STRIDE).alias("doc_id"),
            F.expr(
                "array_join(transform(split(text, ' '),"
                f" t -> substring(md5(t || ':{k}'), 1, 8)), ' ')"
            ).alias("text"),
        )
        for k in range(1, n)
    ]
    return reduce(lambda a, b: a.unionByName(b), copies)


def _minhash_pairs(docs) -> int:
    """Distinct candidate pairs from MinHash band-bucket collisions."""
    sig, bands = _minhash_sig_bands(docs)
    n = _band_collisions(bands).select("a.doc_id", "b.doc_id").distinct().count()
    sig.unpersist()
    bands.unpersist()
    return n


def _sparse_pairs(docs) -> int:
    """Distinct candidate pairs that share a trigram shingle kept under
    the document-frequency ceiling."""
    sh = shingle_tf(docs)
    kept = sh.join(F.broadcast(df_ceiling_tokens(sh, SPARSE_DF_CEILING)), "token")
    n = shared_token_pairs(kept).select("a.doc_id", "b.doc_id").distinct().count()
    sh.unpersist()
    return n


@pytest.mark.parametrize(
    "pairs", [_minhash_pairs, _sparse_pairs], ids=["minhash_banding", "sparse_inverted"]
)
def test_candidates_grow_by_copy_factor(spark, pairs):
    docs = _copies(spark, 1)
    n = docs.count()
    c1 = pairs(docs)
    # fail before the ×4 run if the join has fallen back to all pairs:
    # the trigram index's all-pairs join runs for minutes at ×4
    assert 0 < c1 < n * (n - 1) // 2, (c1, n)
    c4 = pairs(_copies(spark, 4))
    assert c4 == 4 * c1, (c1, c4)
