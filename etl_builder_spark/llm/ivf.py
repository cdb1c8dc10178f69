"""IVF-style approximate nearest neighbor (the third ANN strategy next
to brute force I6 and random-projection LSH I7):

1. Train a coarse quantizer (seeded k-means) over the corpus.
2. Assign every vector to its nearest centroid (the inverted list).
3. At query time, probe only the `n_probe` closest centroids' lists —
   the classic IVF recall/cost dial.

100 TB posture: centroids are tiny and broadcast; assignment is one
scan; a probe touches n_probe/k of the corpus. The inverted lists are
just a `cluster_id` column that the probe joins on in memory; no key
writes them to disk. Written partitioned or bucketed by `cluster_id`,
a probe's list filter would prune partitions instead of scanning them.

Everything stays in DataFrames: ml.KMeans for training (seeded,
deterministic), expression-only distance math for assignment and
search (no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_builder_spark.llm.similarity import corpus_vectors, dot, norm, probe_vectors, sq_dist
from etl_builder_spark.registry import register


def train_quantizer(vectors: DataFrame, vec_col: str = "v", k: int = 16, seed: int = 42) -> DataFrame:
    """Seeded k-means centroids as a small DataFrame (cluster_id, cv)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    spark = vectors.sparkSession
    feat = vectors.select(array_to_vector(F.col(vec_col)).alias("features"))
    # Degenerate-corpus contract (round-12 sweep): no vectors → no
    # trainable centroids; the empty frame makes every downstream
    # assignment/probe a defined empty result instead of a fit() crash.
    if feat.isEmpty():
        return spark.createDataFrame([], "cluster_id int, cv array<double>")
    # cap k at the DISTINCT point count (round-12 degenerate sweep):
    # MLlib's aggregator crashes (ArrayIndexOutOfBounds) when k-means||
    # init finds fewer distinct centers than k, and KMeans itself
    # requires k >= 2 — below that the distinct points ARE the
    # centroids, no fit needed.  One tiny distinct-count aggregate —
    # negligible next to the fit's own passes.
    distinct_pts = vectors.select(vec_col).distinct()
    n_distinct = distinct_pts.count()
    if n_distinct < 2:
        only = distinct_pts.collect()
        return spark.createDataFrame(
            [(0, [float(x) for x in only[0][0]])], ["cluster_id", "cv"]
        )
    km = KMeans(k=min(k, n_distinct), seed=seed, maxIter=20, featuresCol="features")
    model = km.fit(feat)
    centers = model.clusterCenters()
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)], ["cluster_id", "cv"]
    )


def assign_clusters(vectors: DataFrame, centroids: DataFrame, vec_col: str = "v") -> DataFrame:
    """Nearest-centroid assignment via broadcast cross join + argmin —
    expression-only, one scan of the corpus.

    The argmin is ``min(struct(d2r, cluster_id))`` per vector — struct
    ordering is lexicographic, so the minimum is the smallest rounded
    distance with the deterministic cluster_id tie-break, and the
    aggregate gets map-side combine: the ×k broadcast expansion
    collapses inside each map task instead of sort-shuffling k× the
    corpus through a row_number window (the pq_encode lesson,
    VERDICT r4 item 4).  ``vec_col`` is group-constant, so ``first``
    is deterministic here."""
    d2 = F.expr(sq_dist(vec_col, "cv"))
    return (
        vectors.crossJoin(F.broadcast(centroids))
        .withColumn("d2r", F.round(d2, 9))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("d2r"), F.col("cluster_id"))).alias("b"),
            F.first(vec_col).alias(vec_col),
        )
        .select("vec_id", vec_col, F.col("b.cluster_id").alias("cluster_id"))
    )


def ivf_topk(
    indexed: DataFrame,
    centroids: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Search: per probe, rank centroids by distance, keep n_probe
    lists, brute-force only inside them."""
    pc = probes.crossJoin(F.broadcast(centroids))
    w = Window.partitionBy("probe_id").orderBy(
        F.expr(f"ROUND({sq_dist('pv', 'cv')}, 9)").asc(), F.col("cluster_id")
    )
    probe_lists = (
        pc.withColumn("crn", F.row_number().over(w)).where(F.col("crn") <= n_probe)
        .select("probe_id", "pv", "cluster_id")
    )
    # norms hoisted to per-row columns before the candidate fan-out
    # (r15, similarity.norm rationale): the probe norm folds once per
    # probe list row and the index norm once per indexed row; the pair
    # pays one dot.  sqrt(dot(a,a))*sqrt(dot(b,b)) evaluates
    # identically either way.  Dunder-prefixed internal names so a
    # caller-supplied frame that already carries nv/npv is never
    # silently overwritten (ADVICE r15).
    probe_lists = probe_lists.withColumn("__ivf_npv", F.expr(norm("pv")))
    indexed = indexed.withColumn("__ivf_nv", F.expr(norm("v")))
    cands = probe_lists.join(indexed, "cluster_id").where(F.col("vec_id") != F.col("probe_id"))
    sim = F.expr(f"ROUND({dot('pv', 'v')} / (__ivf_npv * __ivf_nv), 6)")
    wk = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cands.select("probe_id", "vec_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
    )


#: Pinned coarse-quantizer seeds for the exact twin: the vectors of
#: these 16 fixed corpus points ARE the centroids (k-means‖-style
#: seeding frozen at its sample), so cluster boundaries are data-derived
#: yet engine-independent — both engines compute identical lists.
IVF_SEED_LO, IVF_SEED_HI = 100, 115

_COS = (
    "ROUND(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


@register(
    "sim_knn_ivf_exact",
    oracle=f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id - {IVF_SEED_LO} AS cluster_id, v AS cv
            FROM vecs WHERE vec_id BETWEEN {IVF_SEED_LO} AND {IVF_SEED_HI}
        ),
        asg AS (
            SELECT vec_id, v, cluster_id FROM (
                SELECT vecs.vec_id, vecs.v, cent.cluster_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY vecs.vec_id
                           ORDER BY {_COS.format(a="v", b="cv")} DESC, cluster_id
                       ) AS rn
                FROM vecs CROSS JOIN cent
            ) WHERE rn = 1
        ),
        probes AS (SELECT vec_id AS probe_id, v AS pv FROM vecs WHERE vec_id < 5),
        plists AS (
            SELECT probe_id, pv, cluster_id FROM (
                SELECT p.probe_id, p.pv, c.cluster_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.probe_id
                           ORDER BY {_COS.format(a="pv", b="cv")} DESC, c.cluster_id
                       ) AS crn
                FROM probes p CROSS JOIN cent c
            ) WHERE crn <= 4
        ),
        cands AS (
            SELECT pl.probe_id, a.vec_id AS cand_id,
                   {_COS.format(a="pl.pv", b="a.v")} AS sim
            FROM plists pl JOIN asg a
              ON a.cluster_id = pl.cluster_id AND a.vec_id <> pl.probe_id
        )
        SELECT probe_id, cand_id, sim, rank FROM (
            SELECT probe_id, cand_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rank
            FROM cands
        ) WHERE rank <= 10
    """,
    tags=("I7-ivf-exact",),
)
def sim_knn_ivf_exact(spark, sf_dir):
    """IVF top-10 for 5 probes with the coarse quantizer PINNED to 16
    fixed corpus points (IVF_SEED_LO..HI) instead of k-means — the
    exact-oracle twin of ``sim_knn_ivf``, the same way
    ``dedup_minhash_exact`` twins the ml-lib LSH path: freeze the
    engine-specific training step at shared, data-derived constants and
    the whole pipeline (assignment, probe-list selection, in-list
    ranking) becomes hash-checkable end-to-end.

    Same shape as the approximate path: centroids broadcast, one-scan
    argmax assignment, probes touch 4 of 16 lists, candidates come only
    from probed lists.  Cosine everywhere, rounded 6 dp, ranked on the
    rounded value with id tiebreaks (policy §7.2)."""
    e = corpus_vectors(spark, sf_dir)
    centroids = e.where(F.col("vec_id").between(IVF_SEED_LO, IVF_SEED_HI)).select(
        (F.col("vec_id") - IVF_SEED_LO).alias("cluster_id"), F.col("v").alias("cv")
    )
    # argmax as min(struct(-cos_r, cluster_id)): identical selection to
    # ORDER BY cos_r DESC, cluster_id (negating the rounded double is
    # exact), but with map-side combine instead of a row_number sort
    # over the ×16 broadcast expansion (the pq_encode lesson).
    # norms hoisted out of every cosine pairing (similarity.norm —
    # bit-identical): the ×16 assignment crossJoin and the probe×list
    # candidate scoring each pay one dot per pair; nv rides the argmin
    # group (every row of a vec_id group carries the same v/nv, so
    # first() is value-deterministic, same as the existing v carry).
    en = e.select("vec_id", "v", F.expr(norm("v")).alias("nv"))
    cn = centroids.select("cluster_id", "cv", F.expr(norm("cv")).alias("ncv"))
    asg = (
        en.crossJoin(F.broadcast(cn))
        .withColumn(
            "negc",
            F.expr(f"-ROUND({dot('v', 'cv')} / (nv * ncv), 6)"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("negc"), F.col("cluster_id"))).alias("b"),
            F.first("v").alias("v"),
            F.first("nv").alias("nv"),
        )
        .select("vec_id", "v", "nv", F.col("b.cluster_id").alias("cluster_id"))
    )
    probes = en.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), F.col("nv").alias("npv")
    )
    wp = Window.partitionBy("probe_id").orderBy(
        F.expr(f"ROUND({dot('pv', 'cv')} / (npv * ncv), 6)").desc(),
        F.col("cluster_id"),
    )
    plists = (
        probes.crossJoin(F.broadcast(cn))
        .withColumn("crn", F.row_number().over(wp))
        .where(F.col("crn") <= 4)
        .select("probe_id", "pv", "npv", "cluster_id")
    )
    cands = (
        F.broadcast(plists)
        .join(asg, "cluster_id")
        .where(F.col("vec_id") != F.col("probe_id"))
    )
    sim = F.expr(f"ROUND({dot('pv', 'v')} / (npv * nv), 6)")
    wk = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        cands.select("probe_id", F.col("vec_id").alias("cand_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= 10)
    )


@register(
    "sim_knn_ivf",
    oracle=None,  # k-means cluster boundaries are engine-specific → rows-only
    tags=("I7-ivf",),
)
def sim_knn_ivf(spark, sf_dir):
    """IVF top-10 for 5 probes (k=16 lists, 4 probed). Deterministic
    given the seed; rows-only by construction."""
    e = corpus_vectors(spark, sf_dir)
    centroids = train_quantizer(e, k=16, seed=42)
    indexed = assign_clusters(e, centroids)
    probes = probe_vectors(e, 5)
    return ivf_topk(indexed, centroids, probes, k=10, n_probe=4)
