"""Sparse-vector similarity join: TF-IDF cosine over an inverted
shingle index — the classic "more-like-this" / near-dup RANKING
engine for text corpora, complementing the dense-embedding family
(llm/similarity.py, llm/embed_dedup.py) with the sparse path that
needs no embedding model at all.

Candidate generation is an inverted-index equi-join on token-trigram
shingles (same index shape as dedup_ngram_jaccard /
dedup_text_containment): a pair is scored only if it shares at least
one indexed shingle, so the join fans out per shingle — never
all-pairs.  Shingles above the document-frequency ceiling are dropped
from the vector space entirely (standard stop-shingle removal: their
idf ≈ 0 contributes noise and their index rows fan out
quadratically); weights, norms, and dot products are all defined over
the KEPT space so the measure is exact and the oracle can mirror it.

100 TB posture: two hash aggregations (tf, df) + one equi-join on the
shingle key, candidates bounded by |shingles|·DF_CEILING²; the shingle
tf frame is persisted because three consumers reference it (df, norms,
both sides of the dot-product self-join) — recomputing the corpus
shingle pass per reference is the multi-scan anti-pattern (PERF.md
round-5 persist sweep).  Determinism: idf and weights are rounded to
6 dp so both engines multiply identical doubles; dot products and
norms accumulate ROUND(x, 9) terms as DECIMAL(38,9) — order-free
exact sums under any partitioning (policy §7.2); the final ranking
orders on the ROUNDED cosine with the pair ids as tiebreak.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower
from etl_builder_spark.llm.text import df_ceiling_tokens, shared_token_pairs, token_trigrams
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: Shingle document-frequency ceiling (stop-shingle cut). Shared
#: rationale with llm/dedup.DF_CEILING; trigram shingles on real
#: corpora have tiny df, so the ceiling only trims degenerate
#: boilerplate shingles while bounding index fan-out at ceiling².
SPARSE_DF_CEILING = 10_000

#: Result size of the ranked pair report.
TOP_PAIRS = 50


def shingle_tf(d):
    """Token-trigram shingle term frequencies — one (doc_id, token, tf)
    row per distinct shingle per doc, PERSISTED (three consumers: df,
    norms, both dot-product sides).  Shared by the registered operator
    and ``tests/test_scaling.py``, which asserts that the candidate
    pairs of the shipped code path grow by exactly the corpus copy
    factor."""
    base, tri = token_trigrams(d, fold_lower("text"))
    return (
        base.select("doc_id", F.explode(tri).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )


@register(
    "sim_sparse_tfidf_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), x -> x <> '') AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - 1),
                                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS token
                  FROM toks WHERE len(t) >= 3) g
            GROUP BY doc_id, token
        ),
        dfreq AS (
            SELECT token, COUNT(*) AS df FROM sh
            GROUP BY token HAVING COUNT(*) <= {SPARSE_DF_CEILING}
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        w AS (
            SELECT doc_id, token,
                   ROUND(tf * ROUND(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 6), 6) AS w
            FROM sh JOIN dfreq USING (token) CROSS JOIN n
        ),
        norms AS (
            SELECT doc_id, SUM(CAST(ROUND(w * w, 9) AS DECIMAL(38,9))) AS n2
            FROM w GROUP BY doc_id
        ),
        dot AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS n_shared,
                   SUM(CAST(ROUND(a.w * b.w, 9) AS DECIMAL(38,9))) AS dp
            FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_shared,
               ROUND(CAST(dp AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                     6) AS cos_sim
        FROM dot
        JOIN norms na ON na.doc_id = id_a
        JOIN norms nb ON nb.doc_id = id_b
        ORDER BY cos_sim DESC, id_a, id_b
        LIMIT {TOP_PAIRS}
    """,
    tags=("I-sparse-sim",),
)
def sim_sparse_tfidf_pairs(spark, sf_dir):
    """Top-{TOP_PAIRS} most similar document pairs by TF-IDF cosine
    over trigram-shingle sparse vectors, candidates from an inverted
    shingle index (see module docstring for the scale analysis)."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_tf(d)
    # df derives from the persisted tf frame (one row per (doc, token))
    # — no second corpus shingle pass.
    dfreq = df_ceiling_tokens(sh, SPARSE_DF_CEILING)
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0), 6)
    w = (
        sh.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", F.round(F.col("tf") * idf, 6).alias("w"))
        .persist()
    )
    term9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    norms = w.groupBy("doc_id").agg(F.sum(term9(F.col("w") * F.col("w"))).alias("n2"))
    dot = (
        shared_token_pairs(w)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(term9(F.col("a.w") * F.col("b.w"))).alias("dp"),
        )
    )
    na, nb = norms.alias("na"), norms.alias("nb")
    cos = F.round(
        F.col("dp").cast("double")
        / (F.sqrt(F.col("na.n2").cast("double")) * F.sqrt(F.col("nb.n2").cast("double"))),
        6,
    )
    return (
        dot.join(na, F.col("na.doc_id") == F.col("id_a"))
        .join(nb, F.col("nb.doc_id") == F.col("id_b"))
        .select("id_a", "id_b", "n_shared", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "id_a", "id_b")
        .limit(TOP_PAIRS)
    )
