"""Product-quantization contracts: determinism, reconstruction error
strictly better than the trivial quantizer, and ADC top-k recall
against exact cosine — the checks that matter for a rows-only op."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.llm.pq import (
    K_CODES,
    M_SUBSPACES,
    pq_encode,
    train_pq_codebooks,
)
from etl_builder_spark.llm.similarity import corpus_vectors
from tests.conftest import SF_DIR


def test_pq_encode_shape_and_determinism(spark):
    e = corpus_vectors(spark, SF_DIR)
    cb = train_pq_codebooks(e)
    assert cb.count() == M_SUBSPACES * K_CODES
    out1 = sorted(map(tuple, pq_encode(e, cb).collect()))
    out2 = sorted(map(tuple, pq_encode(e, train_pq_codebooks(e)).collect()))
    assert out1 == out2  # seeded end-to-end
    for _, codes, err in out1[:50]:
        assert len(codes) == M_SUBSPACES
        assert all(0 <= c < K_CODES for c in codes)
        assert err >= 0.0


def test_pq_beats_trivial_quantizer(spark):
    """Mean reconstruction error must beat quantizing every subspace to
    its single global centroid (k=1) — i.e. the codebooks actually
    learned structure."""
    e = corpus_vectors(spark, SF_DIR)
    err_pq = (
        pq_encode(e, train_pq_codebooks(e)).agg(F.avg("recon_err")).collect()[0][0]
    )
    # trivial codebook: one code per subspace = the subspace mean
    # (Spark ML KMeans rejects k=1, so build it directly)
    dim, sub = 64, 64 // M_SUBSPACES
    means = (
        e.select(F.posexplode("v").alias("d", "x"))
        .groupBy((F.col("d") / sub).cast("int").alias("subspace"), F.col("d").alias("d"))
        .agg(F.avg("x").alias("mx"))
        .groupBy("subspace")
        .agg(F.array_sort(F.collect_list(F.struct("d", "mx"))).alias("dm"))
        .select(
            "subspace",
            F.lit(0).alias("code"),
            F.transform("dm", lambda s: s["mx"]).alias("cv"),
        )
    )
    err_k1 = pq_encode(e, means).agg(F.avg("recon_err")).collect()[0][0]
    # measured 0.715 vs 0.998 on the (near-random) synthetic corpus —
    # a ~28% win; real embeddings with cluster structure do far better
    assert err_pq < err_k1 * 0.8


def test_pq_adc_recall_vs_exact(spark):
    """ADC top-10 must overlap the exact Euclidean top-10 — PQ with
    16 dims/subspace on this corpus should keep recall well above
    chance (10/499)."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    adc = REGISTRY["sim_topk_pq_adc"].fn(spark, SF_DIR)
    got = {}
    for r in adc.collect():
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])

    e = corpus_vectors(spark, SF_DIR)
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("pv"), F.col("v"), lambda x, y: x - y),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("probe_id").orderBy(F.col("d").asc(), "vec_id")
    exact = (
        e.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", F.round(d2, 6).alias("d"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= 10)
    )
    want = {}
    for r in exact.collect():
        want.setdefault(r["probe_id"], set()).add(r["vec_id"])

    recalls = [len(got[p] & want[p]) / 10 for p in want]
    assert len(recalls) == 5
    # measured 0.30 at m=8 on the near-random synthetic corpus;
    # deterministic, so a fixed floor below that is stable
    assert sum(recalls) / len(recalls) >= 0.25, recalls

    # the two-stage rerank query must do much better: its top-10 is the
    # exact-distance best of the ADC top-50 shortlist (measured 0.70)
    rr = REGISTRY["sim_topk_pq_rerank"].fn(spark, SF_DIR)
    got_rr = {}
    for r in rr.collect():
        got_rr.setdefault(r["probe_id"], set()).add(r["vec_id"])
    rr_recalls = [len(got_rr[p] & want[p]) / 10 for p in want]
    assert sum(rr_recalls) / len(rr_recalls) >= 0.6, rr_recalls
    avg_adc = sum(recalls) / len(recalls)
    assert sum(rr_recalls) / len(rr_recalls) > avg_adc


def test_pq_encode_follows_codebook_m(spark):
    """A codebook trained at m=4 must drive 4-wide slicing and 4 codes
    per vector — m is implied by the codebook, not assumed (ADVICE r3:
    a module-constant m would silently mis-slice here)."""
    e = corpus_vectors(spark, SF_DIR)
    cb4 = train_pq_codebooks(e, m=4, k=8)
    out = pq_encode(e, cb4).collect()
    assert out
    for _, codes, err in out[:50]:
        assert len(codes) == 4
        assert all(0 <= c < 8 for c in codes)
        assert err >= 0.0


def test_corpus_codebook_trains_once(spark):
    """corpus_codebook memoizes: second call must rebuild from the
    cached rows (no second KMeans pass) and match exactly."""
    from etl_builder_spark.llm import pq

    cb1 = sorted(map(tuple, pq.corpus_codebook(spark, SF_DIR).collect()))
    calls = {"n": 0}
    orig = pq.train_pq_codebooks

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    pq.train_pq_codebooks = counting
    try:
        cb2 = sorted(map(tuple, pq.corpus_codebook(spark, SF_DIR).collect()))
    finally:
        pq.train_pq_codebooks = orig
    assert calls["n"] == 0
    assert cb1 == cb2


def test_corpus_codebook_retrains_after_rewrite(spark, tmp_path):
    """An embeddings file rewritten at the same path must retrain the
    memoized codebook, not keep serving the one trained on the old
    vectors."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as papq

    from etl_builder_spark.llm import pq

    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    sf_dir = str(sf)
    path = sf / "embeddings.parquet"
    old = sorted(map(tuple, pq.corpus_codebook(spark, sf_dir).collect()))

    t = papq.read_table(path)
    flipped = pa.array(
        [[-x for x in v] for v in t.column("embedding").to_pylist()],
        type=t.schema.field("embedding").type,
    )
    before = os.stat(path).st_mtime_ns
    papq.write_table(t.set_column(t.schema.get_field_index("embedding"), "embedding", flipped), path)
    # the rewrite must be visible as a new file version even on
    # filesystems with coarse timestamps
    if os.stat(path).st_mtime_ns == before:
        os.utime(path, ns=(before + 1_000_000_000, before + 1_000_000_000))

    new = sorted(map(tuple, pq.corpus_codebook(spark, sf_dir).collect()))
    fresh = sorted(
        map(
            tuple,
            train_pq_codebooks(corpus_vectors(spark, sf_dir)).collect(),
        )
    )
    assert new == fresh
    assert new != old


def test_ivfpq_recall_vs_exact(spark):
    """IVF-PQ composition floor: the two-stage approximation (coarse
    lists pruned 4/16, ADC shortlist-50, exact rerank) must keep ≥40%
    of the exact cosine top-10, and must never do worse than the same
    IVF pruning followed by exact scoring (sim_knn_ivf_exact) by more
    than one hit per probe — i.e. the PQ stage's loss inside the
    probed lists is bounded (measured: zero loss at sf0.001, both at
    0.50 avg recall; the 0.50 itself is the IVF pruning cost on
    near-random synthetic vectors)."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()

    def topsets(key, id_col):
        got = {}
        for r in REGISTRY[key].fn(spark, SF_DIR).collect():
            got.setdefault(r["probe_id"], set()).add(r[id_col])
        return got

    got = topsets("sim_knn_ivfpq", "vec_id")
    want = topsets("sim_topk_cosine_sql", "cand_id")
    ivf = topsets("sim_knn_ivf_exact", "cand_id")
    assert set(got) == set(want) == set(ivf)
    recalls = [len(got[p] & want[p]) / 10 for p in want]
    ivf_recalls = [len(ivf[p] & want[p]) / 10 for p in want]
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    for p in want:
        assert recalls[list(want).index(p)] >= ivf_recalls[list(want).index(p)] - 0.1
