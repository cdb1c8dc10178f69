"""Retrieval-quality evaluation over the embeddings table (SURVEY §2
I-rows, round-8 wave): Matryoshka truncation recall, MRR / recall@k
against label relevance, and a kNN label-vote classifier.

All three share the brute-force broadcast-probe cosine ranking of
``sim_topk_cosine_sql`` — probes are a fixed deterministic slice,
similarities ROUND(·,6) and ranked with a cand_id tiebreaker (policy
§7.2), so the ranked lists are engine-identical and everything
computed FROM them (set overlaps, reciprocal ranks, majority votes)
is exact integer/fixed-float math.

Scale posture: probes broadcast, candidates stream through codegen —
the evaluation cost is |probes| x |corpus| dot products in one scan,
the standard eval harness shape; the per-probe windows partition on
probe_id (never unpartitioned).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_builder_spark.llm.similarity import cosine, probe_vectors
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


def _vecs(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )


_VECS_SQL = """
        vecs AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
"""


@register(
    "embed_matryoshka_recall",
    oracle=f"""
        WITH {_VECS_SQL},
        probes AS (SELECT vec_id AS probe_id, v AS pv FROM vecs WHERE vec_id < 20),
        sims AS (
            SELECT probe_id, vec_id AS cand_id,
                   ROUND(list_dot_product(pv, v)
                         / (sqrt(list_dot_product(pv, pv))
                            * sqrt(list_dot_product(v, v))), 6) AS sim_full,
                   ROUND(list_dot_product(pv[1:16], v[1:16])
                         / (sqrt(list_dot_product(pv[1:16], pv[1:16]))
                            * sqrt(list_dot_product(v[1:16], v[1:16]))), 6) AS sim_16
            FROM probes JOIN vecs ON vec_id <> probe_id
        ),
        fullk AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY sim_full DESC, cand_id) AS r
                FROM sims) WHERE r <= 10
        ),
        trunck AS (
            SELECT probe_id, cand_id FROM (
                SELECT probe_id, cand_id,
                       ROW_NUMBER() OVER (PARTITION BY probe_id
                                          ORDER BY sim_16 DESC, cand_id) AS r
                FROM sims) WHERE r <= 10
        )
        SELECT f.probe_id,
               CAST(COUNT(t.cand_id) AS BIGINT) AS n_overlap,
               COUNT(t.cand_id) / 10.0 AS recall_at_10
        FROM fullk f
        LEFT JOIN trunck t ON f.probe_id = t.probe_id AND f.cand_id = t.cand_id
        GROUP BY f.probe_id
    """,
    tags=("I-matryoshka",),
)
def embed_matryoshka_recall(spark, sf_dir):
    """Matryoshka-style truncation quality: how much of each probe's
    full-dimension cosine top-10 survives when vectors are truncated to
    their first 16 of 64 dims (the memory/recall trade MRL-trained
    embeddings are built for — truncated search reads 4x less vector
    data per candidate).  Both rankings come from ONE probe x corpus
    scan computing both similarities per pair; recall@10 is the exact
    overlap of two deterministic rank-10 sets divided by 10."""
    vecs = _vecs(spark, sf_dir).drop("label")
    probes = probe_vectors(vecs, 20)
    sims = (
        F.broadcast(probes)
        .join(vecs, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            F.round(F.expr(cosine("pv", "v")), 6).alias("sim_full"),
            F.round(F.expr(cosine("slice(pv, 1, 16)", "slice(v, 1, 16)")), 6).alias("sim_16"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(F.col("sim_full").desc(), "cand_id")
    wt = Window.partitionBy("probe_id").orderBy(F.col("sim_16").desc(), "cand_id")
    ranked = sims.select(
        "probe_id",
        "cand_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wt).alias("r_16"),
    ).persist()  # both top-10 slices read the one pair scan
    fullk = ranked.where(F.col("r_full") <= 10).select("probe_id", "cand_id")
    trunck = ranked.where(F.col("r_16") <= 10).select(
        F.col("probe_id").alias("tp"), F.col("cand_id").alias("tc")
    )
    return (
        fullk.join(
            trunck,
            (F.col("probe_id") == F.col("tp")) & (F.col("cand_id") == F.col("tc")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count("tc").cast("bigint").alias("n_overlap"),
            (F.count("tc") / F.lit(10.0)).alias("recall_at_10"),
        )
    )


def _label_ranked_sql() -> str:
    """Shared oracle CTE: per-probe cosine ranking with relevance =
    label match, probes = vec_id % 25 == 0."""
    return f"""
        WITH {_VECS_SQL},
        probes AS (
            SELECT vec_id AS probe_id, label AS probe_label, v AS pv
            FROM vecs WHERE vec_id % 25 = 0
        ),
        ranked AS (
            SELECT probe_id, probe_label, cand_id, cand_label,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY sim DESC, cand_id) AS rnk
            FROM (
                SELECT probe_id, probe_label, vec_id AS cand_id,
                       label AS cand_label,
                       ROUND(list_dot_product(pv, v)
                             / (sqrt(list_dot_product(pv, pv))
                                * sqrt(list_dot_product(v, v))), 6) AS sim
                FROM probes JOIN vecs ON vec_id <> probe_id
            )
        )
    """


def _label_ranked(spark, sf_dir):
    """Spark twin of _label_ranked_sql."""
    vecs = _vecs(spark, sf_dir)
    probes = vecs.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("v").alias("pv"),
    )
    sims = (
        F.broadcast(probes)
        .join(vecs, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "probe_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.round(F.expr(cosine("pv", "v")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "cand_id")
    return sims.select(
        "probe_id", "probe_label", "cand_id", "cand_label",
        F.row_number().over(w).alias("rnk"),
    )


@register(
    "ml_retrieval_mrr_recall",
    oracle=_label_ranked_sql()
    + """
        SELECT probe_id,
               CAST(MIN(CASE WHEN cand_label = probe_label THEN rnk END) AS BIGINT)
                   AS first_rel_rank,
               CASE WHEN MIN(CASE WHEN cand_label = probe_label THEN rnk END)
                         IS NULL THEN 0.0
                    ELSE 1.0 / MIN(CASE WHEN cand_label = probe_label THEN rnk END)
               END AS reciprocal_rank,
               CAST(SUM(CASE WHEN rnk <= 10 AND cand_label = probe_label
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top10,
               CASE WHEN SUM(CASE WHEN cand_label = probe_label
                                  THEN 1 ELSE 0 END) = 0 THEN 0.0
                    ELSE SUM(CASE WHEN rnk <= 10 AND cand_label = probe_label
                                  THEN 1 ELSE 0 END)
                         / CAST(LEAST(10, SUM(CASE WHEN cand_label = probe_label
                                                   THEN 1 ELSE 0 END)) AS DOUBLE)
               END AS recall_at_10
        FROM ranked
        GROUP BY probe_id
    """,
    tags=("I-retrieval",),
)
def ml_retrieval_mrr_recall(spark, sf_dir):
    """Retrieval metrics with label-match relevance: per probe, the
    rank of the first same-label neighbor (→ reciprocal rank / MRR)
    and recall@10 against the capped relevant count.  The ranking is
    the deterministic rounded-cosine order; the metrics are exact
    integer counts and single fixed divisions — the eval-harness
    pattern for embedding-model regression gates on a training
    pipeline.  Probes whose label has no other member get an explicit
    0.0 reciprocal rank and recall (zero-guarded in both engines, the
    ml_pr_threshold_grid style) rather than silently-NULL metric rows."""
    ranked = _label_ranked(spark, sf_dir)
    rel = F.col("cand_label") == F.col("probe_label")
    rel_rank = F.min(F.when(rel, F.col("rnk")))
    n_rel_10 = F.sum(F.when(rel & (F.col("rnk") <= 10), 1).otherwise(0))
    n_rel = F.sum(F.when(rel, 1).otherwise(0))
    return ranked.groupBy("probe_id").agg(
        rel_rank.cast("bigint").alias("first_rel_rank"),
        F.when(rel_rank.isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / rel_rank)
        .alias("reciprocal_rank"),
        n_rel_10.cast("bigint").alias("n_rel_top10"),
        F.when(n_rel == 0, F.lit(0.0))
        .otherwise(n_rel_10 / F.least(F.lit(10), n_rel).cast("double"))
        .alias("recall_at_10"),
    )


@register(
    "ml_knn_label_vote",
    oracle=_label_ranked_sql()
    + """
        , votes AS (
            SELECT probe_id, probe_label, cand_label, COUNT(*) AS n_votes
            FROM ranked WHERE rnk <= 10
            GROUP BY probe_id, probe_label, cand_label
        )
        SELECT probe_id, probe_label,
               cand_label AS predicted_label,
               n_votes,
               (cand_label = probe_label) AS correct
        FROM (
            SELECT probe_id, probe_label, cand_label, n_votes,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY n_votes DESC, cand_label) AS vr
            FROM votes
        ) WHERE vr = 1
    """,
    tags=("I-retrieval",),
)
def ml_knn_label_vote(spark, sf_dir):
    """10-NN majority-vote classifier over the embedding space: each
    probe predicts the modal label of its 10 nearest neighbors
    (smallest-label tiebreak — deterministic mode, the
    agg_mode_deterministic discipline).  Emits per-probe prediction +
    correctness; the confusion-matrix / accuracy keys compose on top."""
    ranked = _label_ranked(spark, sf_dir)
    votes = (
        ranked.where(F.col("rnk") <= 10)
        .groupBy("probe_id", "probe_label", "cand_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("probe_id").orderBy(F.col("n_votes").desc(), "cand_label")
    return (
        votes.select("*", F.row_number().over(wv).alias("vr"))
        .where(F.col("vr") == 1)
        .select(
            "probe_id",
            "probe_label",
            F.col("cand_label").alias("predicted_label"),
            "n_votes",
            (F.col("cand_label") == F.col("probe_label")).alias("correct"),
        )
    )


def _maxsim_oracle() -> str:
    """Generated oracle: 4x4 segment cosines, per-segment greatest,
    fixed-order sum — text shared with the Spark builder's structure."""

    def seg(v: str, i: int) -> str:
        return f"{v}[{16 * i + 1}:{16 * i + 16}]"

    def cos(i: int, j: int) -> str:
        p, c = seg("pv", i), seg("v", j)
        return (
            f"ROUND(list_dot_product({p}, {c}) / "
            f"(sqrt(list_dot_product({p}, {p})) * sqrt(list_dot_product({c}, {c}))), 6)"
        )

    maxes = [
        "GREATEST(" + ", ".join(cos(i, j) for j in range(4)) + ")" for i in range(4)
    ]
    score = " + ".join(maxes)
    return f"""
        WITH {_VECS_SQL},
        probes AS (SELECT vec_id AS probe_id, v AS pv FROM vecs WHERE vec_id < 10),
        scored AS (
            SELECT probe_id, vec_id AS cand_id,
                   {score} AS maxsim
            FROM probes JOIN vecs ON vec_id <> probe_id
        )
        SELECT probe_id, cand_id, maxsim, rank FROM (
            SELECT probe_id, cand_id, maxsim,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY maxsim DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    """


@register("sim_maxsim_multivector", oracle=_maxsim_oracle(), tags=("I-retrieval",))
def sim_maxsim_multivector(spark, sf_dir):
    """Late-interaction (ColBERT-style) MaxSim retrieval: each 64-dim
    vector is treated as 4 x 16-dim token vectors; score(probe, cand)
    = Σ_i max_j cos(p_i, c_j) — the multi-vector scoring that beats
    single-vector cosine on fine-grained matches.  Each of the 16
    segment cosines is ROUND(·,6) BEFORE max/sum, the max is exact on
    rounded values, and the 4-term sum is one fixed left-assoc float
    expression — engine-identical, ranked with a cand_id tiebreak.

    100 TB posture: identical shape to sim_topk_cosine_sql — broadcast
    probes, one streaming pass over candidates, 16 dot products per
    pair fused into whole-stage codegen (on a real multi-vector corpus
    the segment slices become an array-of-arrays column; the plan does
    not change)."""
    vecs = _vecs(spark, sf_dir).drop("label")
    probes = probe_vectors(vecs, 10)

    def seg(c: str, i: int) -> str:
        return f"slice({c}, {16 * i + 1}, 16)"

    maxes = [
        F.greatest(
            *[F.round(F.expr(cosine(seg("pv", i), seg("v", j))), 6) for j in range(4)]
        )
        for i in range(4)
    ]
    score = maxes[0] + maxes[1] + maxes[2] + maxes[3]
    scored = (
        F.broadcast(probes)
        .join(vecs, F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("cand_id"), score.alias("maxsim"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("maxsim").desc(), "cand_id")
    return scored.select("*", F.row_number().over(w).alias("rank")).where(
        F.col("rank") <= 10
    )
