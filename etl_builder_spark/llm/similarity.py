"""Similarity search over the embedding column (SURVEY.md §2 I6-I8).

- Brute-force cosine top-k: expression-only (zip_with + aggregate),
  broadcast probe set — the exact baseline, O(n·k_probes), no shuffle
  of the candidate side.
- LSH bucketed kNN (BucketedRandomProjectionLSH): the 100 TB path —
  candidates come only from colliding hash buckets.
- Per-label centroids: posexplode → (label, dim) aggregate — a single
  shuffle, no driver-side vector math.

Determinism: cosine accumulates floats, so similarity is ROUND(x, 6)
and every ranking orders by the ROUNDED value with vec_id tiebreak
(policy §7.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


def dot(a: str, b: str) -> str:
    """Dot product of two array<double> SQL expressions as SQL text —
    a sequential left fold, JVM-side, no UDF.  Every vector expression
    in the engine is built as SQL text and Column callers wrap it in
    ``F.expr``: one parsed string is one py4j call, while each Column
    API node (``F.aggregate``, ``F.zip_with``, every lambda) is a call
    of its own — measured ~1.5 s of plan-construction time for the
    32-hyperplane signing select at sf0.1.  The parse yields the same
    Catalyst operators (`0.0D` is the double literal F.lit(0.0)
    builds)."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def norm(a: str) -> str:
    """sqrt(dot(a,a)) — the cosine denominator factor, exposed so hot
    crossJoin sites can HOIST each side's norm to a per-row column
    before the join: inside cosine() both norms re-fold per PAIR
    (3 array folds per candidate), while the hoisted form folds each
    norm once per row and the pair pays one dot.
    dot(a,b)/(norm(a)*norm(b)) is bit-identical to cosine(a,b) — the
    same float ops on the same values in the same order — so rounded
    similarities and every downstream ranking are unchanged (A/B at
    sf0.1: coarse assignment 0.66 -> 0.45 s, rows identical)."""
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str) -> str:
    return f"{dot(a, b)} / ({norm(a)} * {norm(b)})"


def sq_dist(a: str, b: str) -> str:
    """Squared Euclidean distance: the element differences folded as
    ``acc + d * d``, left to right from 0.0 — the same IEEE steps as
    summing ``(x - y) * (x - y)`` per element."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x - y), 0.0D, (acc, x) -> acc + x * x)"


def _dbl(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def corpus_vectors(spark, sf_dir) -> DataFrame:
    """The corpus embeddings as (vec_id, v array<double>)."""
    return load_table(spark, sf_dir, "embeddings").select("vec_id", _dbl().alias("v"))


def probe_vectors(vecs: DataFrame, n: int) -> DataFrame:
    """(probe_id, pv): the vectors of a (vec_id, v) frame with
    vec_id < ``n`` — the probe side of every search key."""
    return vecs.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )


@register(
    "sim_topk_cosine_sql",
    oracle="""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        probes AS (SELECT vec_id AS probe_id, v AS pv FROM vecs WHERE vec_id < 5),
        sims AS (
            SELECT probe_id, vec_id AS cand_id,
                   ROUND(list_dot_product(pv, v)
                         / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))),
                         6) AS sim
            FROM probes JOIN vecs ON vec_id <> probe_id
        )
        SELECT probe_id, cand_id, sim, rank FROM (
            SELECT probe_id, cand_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
            FROM sims
        ) WHERE rank <= 10
    """,
    tags=("I6",),
)
def sim_topk_cosine_sql(spark, sf_dir):
    """Brute-force cosine top-10 for 5 probe vectors. The probe set is
    broadcast; candidates stream through codegen — scan-shaped, scales
    linearly with the candidate table."""
    e = corpus_vectors(spark, sf_dir)
    # norms hoisted to per-row columns BEFORE the probe×candidate join
    # (see norm()): each candidate folds its norm once instead of once
    # per probe; the pair computes one dot — bit-identical similarity.
    en = e.select("vec_id", "v", F.expr(norm("v")).alias("nv"))
    probes = en.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), F.col("nv").alias("npv")
    )
    sims = (
        F.broadcast(probes)
        .join(en, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            F.round(F.expr(f"{dot('pv', 'v')} / (npv * nv)"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "cand_id")
    return sims.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= 10)


@register(
    "sim_knn_lsh",
    oracle=None,  # LSH bucketing is engine-specific → rows-only
    tags=("I7",),
)
def sim_knn_lsh(spark, sf_dir):
    """Approximate kNN via BucketedRandomProjectionLSH (fixed seed).
    At 100 TB: fit once, persist the model, join probes to candidates
    through hash buckets only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(_dbl()).alias("features")
    )
    # Degenerate-corpus contract (round-12 sweep): LSH cannot fit on an
    # empty corpus (no first row to size the projections) — the defined
    # result of kNN over nothing is the empty top-k frame.
    if e.isEmpty():
        return spark.createDataFrame(
            [], "probe_id bigint, cand_id bigint, dist double, rank int"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(e)
    probes = e.where(F.col("vec_id") < 5)
    pairs = model.approxSimilarityJoin(probes, e, 3.0, distCol="dist")
    out = pairs.select(
        F.col("datasetA.vec_id").alias("probe_id"),
        F.col("datasetB.vec_id").alias("cand_id"),
        F.round("dist", 6).alias("dist"),
    ).where(F.col("probe_id") != F.col("cand_id"))
    w = Window.partitionBy("probe_id").orderBy(F.col("dist"), "cand_id")
    return out.select("*", F.row_number().over(w).alias("rank")).where(F.col("rank") <= 10)


@register(
    "sim_label_centroids",
    oracle="""
        SELECT label,
               i AS pos,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS centroid_val
        FROM embeddings
        CROSS JOIN generate_series(1, 64) AS t(i)
        GROUP BY label, i
    """,
    tags=("I8",),
)
def sim_label_centroids(spark, sf_dir):
    """Per-label centroid, one row per (label, dimension) — the
    distributed layout (never collects vectors to the driver)."""
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode(_dbl()).alias("pos0", "x"))
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.round(F.col("x"), 9).cast("decimal(20,9)")).cast("double") / F.count(F.lit(1)), 6).alias("centroid_val"),
        )
    )


# dedup_embedding_cosine moved to llm/embed_dedup.py: the original
# form here only re-paired each vector with its own planted copy by id
# (a verification, not a search); the replacement finds near-dup pairs
# via sign-LSH banded candidate generation — the actual operator.


#: RRF smoothing constant (the k=60 from Cormack et al. 2009)
RRF_K = 60


@register(
    "sim_rrf_fusion",
    oracle=f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        probes AS (SELECT vec_id AS probe_id, v AS pv FROM vecs WHERE vec_id < 5),
        sims AS (
            SELECT probe_id, vec_id AS cand_id,
                   ROUND(list_dot_product(pv, v)
                         / (sqrt(list_dot_product(pv, pv))
                            * sqrt(list_dot_product(v, v))), 6) AS cos_sim,
                   ROUND(list_dot_product(pv, pv)
                         - 2 * list_dot_product(pv, v)
                         + list_dot_product(v, v), 6) AS l2_sq
            FROM probes JOIN vecs ON vec_id <> probe_id
        ),
        ranked AS (
            SELECT probe_id, cand_id, cos_sim, l2_sq,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cos_sim DESC, cand_id)
                       AS rank_cos,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY l2_sq, cand_id) AS rank_l2
            FROM sims
        ),
        fused AS (
            SELECT probe_id, cand_id, rank_cos, rank_l2,
                   CAST(ROUND(1.0 / ({RRF_K} + rank_cos)
                              + 1.0 / ({RRF_K} + rank_l2), 9)
                        AS DECIMAL(18,9)) AS rrf
            FROM ranked
        )
        SELECT probe_id, cand_id, rank_cos, rank_l2,
               CAST(rrf AS DOUBLE) AS rrf_score, fused_rank
        FROM (
            SELECT probe_id, cand_id, rank_cos, rank_l2, rrf,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY rrf DESC, cand_id)
                       AS fused_rank
            FROM fused
        )
        WHERE fused_rank <= 10
    """,
    tags=("I-fusion",),
)
def sim_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval rankings — cosine
    similarity and squared Euclidean distance — into one hybrid
    top-10 per probe: RRF(d) = Σ_r 1/(k + rank_r(d)), k=60
    (Cormack 2009), the standard way production search fuses BM25
    with a vector ranker without score calibration.  Cosine and L2
    genuinely disagree here (embeddings are NOT unit-norm), so the
    fusion is non-trivial.

    Determinism: both base similarities round at 6 dp with vec_id
    tiebreaks (the sim_topk_cosine_sql contract), ranks are then
    exact integers, and the RRF score — a sum of two exact rationals
    — rounds once at 9 dp into DECIMAL before the fused ordering.
    L2² uses ‖p‖²−2p·v+‖v‖² so all three terms are the SAME
    sequential-fold dot products the cosine uses (no separate
    subtract-then-square fold whose float order could differ).

    100 TB posture: one broadcast probe join computes BOTH rankings
    from shared dot products (no second candidate scan); per-probe
    windows are partitioned (never global); at corpus scale each
    ranker would come from its index (IVF / LSH keys here) and this
    operator fuses their candidate lists — the shape is identical."""
    vecs = corpus_vectors(spark, sf_dir)
    probes = probe_vectors(vecs, 5)
    j = vecs.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
    sims = j.select(
        "probe_id",
        F.col("vec_id").alias("cand_id"),
        F.round(F.expr(cosine("pv", "v")), 6).alias("cos_sim"),
        F.round(
            F.expr(f"{dot('pv', 'pv')} - 2 * {dot('pv', 'v')} + {dot('v', 'v')}"), 6
        ).alias("l2_sq"),
    )
    wc = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), "cand_id")
    wl = Window.partitionBy("probe_id").orderBy("l2_sq", "cand_id")
    ranked = sims.select(
        "probe_id",
        "cand_id",
        F.row_number().over(wc).alias("rank_cos"),
        F.row_number().over(wl).alias("rank_l2"),
    )
    rrf = F.round(
        1.0 / (RRF_K + F.col("rank_cos")) + 1.0 / (RRF_K + F.col("rank_l2")), 9
    ).cast("decimal(18,9)")
    wf = Window.partitionBy("probe_id").orderBy(F.desc("rrf"), "cand_id")
    return (
        ranked.select("probe_id", "cand_id", "rank_cos", "rank_l2", rrf.alias("rrf"))
        .select(
            "probe_id",
            "cand_id",
            "rank_cos",
            "rank_l2",
            F.col("rrf").cast("double").alias("rrf_score"),
            F.row_number().over(wf).alias("fused_rank"),
        )
        .where(F.col("fused_rank") <= 10)
    )
