"""Embedding-cosine near-duplicate detection (SURVEY.md §2 I-family):
the semantic-dedup step of a training-data pipeline — pairs of vectors
whose cosine similarity crosses a threshold, found WITHOUT an all-pairs
scan.

Shape (the only one that survives 100 TB):

1. Sign-LSH bucketing: each vector's block key per band is the sign
   pattern of its dot products with that band's hyperplanes (random
   hyperplane LSH — collision probability 1 − θ/π per bit).
2. OR-amplified banding: ``N_BANDS`` independent band keys per vector;
   a pair is a candidate if it collides in ANY band (the minhash-LSH
   banding scheme applied to sign bits).  Candidates come from a
   band-bucket equi-join — never a cross join.
3. Verify: exact cosine only on candidate pairs, threshold at
   ``EMBED_DUP_TAU``.

8 bits/band = 256 buckets/band here; at real scale bits-per-band grows
with log n so bucket occupancy stays bounded — the banding JOIN shape
is unchanged.  The hyperplanes here are
pinned corpus vectors (ids HYP_LO..) exactly like the IVF exact twin's
centroids, so the whole pipeline — bucketing, banding, candidate join,
verification — is engine-independent and hash-checked against the
DuckDB oracle end-to-end.

Fixture: the corpus unioned with a perturbed copy
(vec_id + max(vec_id)+1, every component + PERTURB_DELTA).  The delta is
a power of two, so float→double + add is bit-identical in both
engines; planted pairs land at cosine ≈ 0.992, natural pairs max
≈ 0.74 — τ = 0.95 separates them with wide margin on both sides.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.llm.similarity import corpus_vectors, dot, norm
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: planted near-dup copy: vec_id shift and component perturbation
#: (2**-6 — exactly representable, so both engines add the same double).
#: The id shift is CORPUS-DERIVED (max vec_id + 1), not a constant:
#: the old static 100_000 collided with real ids at the ×100 fan
#: (200k vecs), and duplicate ids silently corrupt every per-vec_id
#: grouping — Spark's first(v) picks a nondeterministic vector while
#: the oracle's row_number merges both vectors' rows (round-14 ×100
#: sweep, dedup_semantic_centroids 156k vs 256k pairs).
_OFF_SQL = "(SELECT MAX(vec_id) + 1 FROM embeddings)"
PERTURB_DELTA = 0.015625


def planted_offset(spark, sf_dir) -> int:
    """The planted-copy id shift for a given corpus (max vec_id + 1) —
    exported for the property tests, which identify planted pairs by
    exactly this offset."""
    e = load_table(spark, sf_dir, "embeddings")
    row = e.agg((F.max("vec_id") + F.lit(1)).alias("off")).first()
    return row["off"]


def _planted(e):
    """Perturbed planted copy of every corpus vector, id-shifted one
    past the corpus max via a broadcast 1-row aggregate (no collect —
    the offset rides the plan as a scalar)."""
    off = e.agg((F.max("vec_id") + F.lit(1)).alias("off"))
    return e.crossJoin(F.broadcast(off)).select(
        (F.col("vec_id") + F.col("off")).alias("vec_id"),
        F.transform("v", lambda x: x + F.lit(PERTURB_DELTA)).alias("v"),
    )

#: sign-LSH geometry: 4 bands × 8 bits from 32 pinned corpus vectors
#: (8-bit bands: 256 buckets/band → ~9× fewer candidate pairs than
#: 4-bit bands at sf0.1 for the same ≥99% planted recall)
N_BANDS = 4
BITS_PER_BAND = 8
HYP_LO = 200

#: near-duplicate cosine threshold (standard semantic-dedup setting)
EMBED_DUP_TAU = 0.95

#: corpus-size (corpus ∪ planted) threshold above which the DECLARED
#: operator re-bands the same 32 sign bits 2×16 instead of 4×8
#: (round 15).  The scale law (docstring below) puts 4×8's expected
#: candidate count at n_bands·N²/2^(bits+1): ~1.25e9 pairs at the ×100
#: fan's 400k vectors — banding saturated into effectively-all-pairs
#: (the r14/r15 ×100 sweeps lost this key to the candidate sort's
#: spill).  The 16-bit keys are the lo/hi BYTE PAIRS of the 8-bit
#: keys (band c uses hyperplanes 16c..16c+15 ⇒ K_c = k_{2c} +
#: 256·k_{2c+1}), so both engines derive both geometries from one
#: signing pass and gate on a corpus scalar — one static plan, data
#: picks the geometry, grading-scale results unchanged (N ≤ switch).
#: N rides the plan as 2·(max(vec_id)+1) — the same dense-id span
#: already broadcast as the planted offset — not a second count pass.
ADAPTIVE_SWITCH_N = 32_768

_N_HYP = N_BANDS * BITS_PER_BAND

_DOT = "list_dot_product({a}, {b})"
_COS = f"ROUND({_DOT.format(a='{a}', b='{b}')} / (sqrt({_DOT.format(a='{a}', b='{a}')}) * sqrt({_DOT.format(a='{b}', b='{b}')})), 6)"


def _oracle() -> str:
    hcols = ", ".join(
        f"max(CASE WHEN j={i} THEN h END) AS h{i}" for i in range(_N_HYP)
    )
    band_keys = ", ".join(
        " + ".join(
            f"(CASE WHEN ROUND(list_dot_product(v, h{b * BITS_PER_BAND + i}), 6) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(BITS_PER_BAND)
        )
        + f" AS k{b}"
        for b in range(N_BANDS)
    )
    band_rows = " UNION ALL ".join(
        [
            f"SELECT vec_id, {b} AS band, k{b} AS block FROM banded"
            for b in range(N_BANDS)
        ]
        # wide 2×16 re-banding of the same sign bits: lo/hi byte pairs
        + [
            f"SELECT vec_id, {N_BANDS + c} AS band,"
            f" k{2 * c} + 256 * k{2 * c + 1} AS block FROM banded"
            for c in range(N_BANDS // 2)
        ]
    )
    return f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        all_vecs AS (
            SELECT vec_id, v FROM vecs
            UNION ALL
            SELECT vec_id + {_OFF_SQL},
                   list_transform(v, x -> x + {PERTURB_DELTA})
            FROM vecs
        ),
        hyp AS (
            SELECT vec_id - {HYP_LO} AS j, v AS h
            FROM vecs WHERE vec_id BETWEEN {HYP_LO} AND {HYP_LO + _N_HYP - 1}
        ),
        hw AS (SELECT {hcols} FROM hyp),
        banded AS (SELECT vec_id, v, {band_keys} FROM all_vecs CROSS JOIN hw),
        cnt AS (SELECT 2 * (MAX(vec_id) + 1) AS n FROM embeddings),
        keys AS ({band_rows}),
        keys_active AS (
            SELECT k.vec_id, k.band, k.block FROM keys k CROSS JOIN cnt
            WHERE (n <= {ADAPTIVE_SWITCH_N} AND band < {N_BANDS})
               OR (n >  {ADAPTIVE_SWITCH_N} AND band >= {N_BANDS})
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM keys_active a
            JOIN keys_active b ON a.band = b.band AND a.block = b.block
                              AND a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, sim FROM (
            SELECT c.id_a, c.id_b, {_COS.format(a="x.v", b="y.v")} AS sim
            FROM cand c
            JOIN all_vecs x ON x.vec_id = c.id_a
            JOIN all_vecs y ON y.vec_id = c.id_b
        ) WHERE sim >= {EMBED_DUP_TAU}
    """


def sign_lsh_candidates(
    hyp_source,
    all_vecs,
    n_bands=N_BANDS,
    bits_per_band=BITS_PER_BAND,
    adaptive_n=None,
):
    """Sign-LSH banded candidate pairs (id_a < id_b, distinct) over
    ``all_vecs`` (vec_id, v double-array), hyperplanes taken from
    ``hyp_source`` ids HYP_LO..HYP_LO+n_bands*bits_per_band-1 — the
    candidate stage of ``dedup_embedding_cosine``.

    Scale law (measured, PERF.md "Measured scaling"): expected
    candidates ≈ n_bands · N² / 2^(bits_per_band+1) on a decorrelated
    corpus — the band width must grow with log₂(N) or banding
    saturates into all-pairs.  The fixture default (4×8) is sized for
    the ~4k-vector fixture; 2×16 over the same 32-hyperplane pool is
    the remedy at larger N (``adaptive_n`` below).

    ``adaptive_n`` (round 15): a 1-row DataFrame carrying the corpus
    size as column ``n`` — when given (requires the default 4×8
    geometry), BOTH band layouts are derived from the one signing pass
    (the 16-bit keys are byte pairs of the 8-bit keys) and a runtime
    filter on the broadcast scalar keeps the 4×8 rows at
    n ≤ ADAPTIVE_SWITCH_N and the 2×16 rows above it — the declared
    operator's log-N remedy as ONE static plan."""
    n_hyp = n_bands * bits_per_band
    hyp = hyp_source.where(F.col("vec_id").between(HYP_LO, HYP_LO + n_hyp - 1)).select(
        (F.col("vec_id") - HYP_LO).alias("j"), F.col("v").alias("h")
    )
    # one wide row (h0..h{n_hyp-1}) — the de-exploded form: the corpus
    # is never multiplied by the hyperplane count.  The wide expression
    # families build as SQL TEXT, one parse per column, instead of
    # thousands of Column-API py4j round trips (r15; see similarity.dot) —
    # same Catalyst expressions, ~1s less driver time per construction.
    hw = hyp.groupBy().agg(
        *[F.expr(f"max(CASE WHEN j = {i} THEN h END)").alias(f"h{i}") for i in range(n_hyp)]
    )

    def band_key_sql(b: int) -> str:
        bits = " + ".join(
            f"(CASE WHEN round({dot('v', f'h{b * bits_per_band + i}')}, 6) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(bits_per_band)
        )
        return f"({bits}) AS k{b}"

    banded = all_vecs.crossJoin(F.broadcast(hw)).selectExpr(
        "vec_id", *[band_key_sql(b) for b in range(n_bands)]
    )
    band_cols = [F.col(f"k{b}") for b in range(n_bands)]
    if adaptive_n is not None:
        if (n_bands, bits_per_band) != (N_BANDS, BITS_PER_BAND):
            raise ValueError("adaptive_n requires the default 4x8 geometry")
        # wide 2×16 keys as lo/hi byte pairs of the 8-bit keys
        band_cols += [
            F.col(f"k{2 * c}") + F.lit(256) * F.col(f"k{2 * c + 1}")
            for c in range(n_bands // 2)
        ]
    # keys and norms are both self-joined below; persist so the
    # 32-hyperplane signing pass and the norm pass run once, not once
    # per join side (the lazy plan re-derives per reference)
    keys = banded.select(
        "vec_id",
        F.posexplode(F.array(*band_cols)).alias("band", "block"),
    )
    if adaptive_n is not None:
        n = F.col("n")
        keys = keys.crossJoin(F.broadcast(adaptive_n)).where(
            ((n <= ADAPTIVE_SWITCH_N) & (F.col("band") < n_bands))
            | ((n > ADAPTIVE_SWITCH_N) & (F.col("band") >= n_bands))
        ).select("vec_id", "band", "block")
    keys = keys.persist()
    a = keys.select(F.col("vec_id").alias("id_a"), "band", "block")
    b = keys.select(F.col("vec_id").alias("id_b"), "band", "block")
    return (
        a.join(b, ["band", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


@register("dedup_embedding_cosine", oracle=_oracle(), tags=("I-dedup-embed",))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs over corpus ∪ planted copies:
    sign-LSH banded candidates (band-bucket equi-join, pinned
    hyperplanes), exact cosine ≥ τ verification on candidates only.
    Rounded 6 dp like every similarity in this repo (policy §7.2).

    Geometry is SIZE-ADAPTIVE (round 15, see ADAPTIVE_SWITCH_N): 4×8
    bands at grading scale, the same 32 sign bits re-banded 2×16 above
    the switch — gated by a broadcast corpus scalar inside one static
    plan, identically on both engines, so the oracle hash stays exact
    at every scale while the candidate count follows the log-N law
    instead of saturating (the ×100 fan's 4×8 candidates were ~1.25e9;
    2×16 keeps them ~linear in the corpus)."""
    e = corpus_vectors(spark, sf_dir)
    all_vecs = e.unionByName(_planted(e))
    # corpus size via the dense-id span (2·(max+1)) — the same scalar
    # shape as the planted offset, one broadcast, no count pass
    n_all = e.agg((F.lit(2) * (F.max("vec_id") + F.lit(1))).alias("n"))
    cand = sign_lsh_candidates(e, all_vecs, adaptive_n=n_all)
    # L2 norms once per VECTOR (4k array-aggregates), not per PAIR
    # (2×|candidates| of them): sqrt(dot(v,v)) is computed on the same
    # doubles either way, so sim is bit-identical to the oracle's
    # per-pair formula — this just deduplicates 2/3 of the
    # higher-order-function work on the candidate fan-out, the
    # operator's hot loop. At scale norms would be stored with the
    # vectors (the standard layout) and this join disappears.
    norms = all_vecs.withColumn("nrm", F.expr(norm("v"))).persist()
    va = norms.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = norms.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim = F.round(F.expr(f"{dot('va', 'vb')} / (na * nb)"), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= EMBED_DUP_TAU)
    )


#: pinned centroids for the SemDeDup-style variant — 16 fixed corpus
#: vectors, disjoint from the IVF seeds (100-115) and the sign-LSH
#: hyperplanes (200-231)
SEM_CENT_LO = 300
SEM_N_CENT = 16


@register(
    "dedup_semantic_centroids",
    oracle=f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        all_vecs AS (
            SELECT vec_id, v FROM vecs
            UNION ALL
            SELECT vec_id + {_OFF_SQL},
                   list_transform(v, x -> x + {PERTURB_DELTA})
            FROM vecs
        ),
        cent AS (
            SELECT vec_id - {SEM_CENT_LO} AS cluster_id, v AS cv
            FROM vecs
            WHERE vec_id BETWEEN {SEM_CENT_LO} AND {SEM_CENT_LO + SEM_N_CENT - 1}
        ),
        asg AS (
            SELECT vec_id, v, cluster_id FROM (
                SELECT a.vec_id, a.v, c.cluster_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_COS.format(a="a.v", b="c.cv")} DESC, c.cluster_id
                       ) AS rn
                FROM all_vecs a CROSS JOIN cent c
            ) WHERE rn = 1
        )
        SELECT cluster_id, drop_id, keep_id, sim FROM (
            SELECT x.cluster_id,
                   y.vec_id AS drop_id,
                   x.vec_id AS keep_id,
                   {_COS.format(a="x.v", b="y.v")} AS sim
            FROM asg x JOIN asg y
              ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        ) WHERE sim >= {EMBED_DUP_TAU}
    """,
    tags=("I-dedup-semantic",),
)
def dedup_semantic_centroids(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: partition the corpus into
    semantic clusters (nearest pinned centroid by cosine), then find
    near-duplicate pairs ONLY within each cluster and mark the higher
    vec_id of each pair for dropping.

    This is the second blocking strategy for embedding near-dup next
    to ``dedup_embedding_cosine``'s sign-LSH bands, with the opposite
    tradeoff: centroid blocking probes exactly one block per vector
    (cheapest possible candidate generation, recall bounded by
    cluster purity) where OR-amplified LSH probes ``N_BANDS`` blocks
    (higher recall, N× the candidate volume).  Web-scale semantic
    dedup pipelines use exactly this cluster-then-pairwise shape so
    the quadratic term is bounded by max cluster size, never corpus
    size; at 100 TB the assignment is one broadcast-centroid scan and
    the pair join shuffles on cluster_id.

    The centroids are pinned corpus vectors (SEM_CENT_LO..), making
    assignment, blocking, and verification engine-independent and
    hash-checked end-to-end — k-means would train better centroids
    but is engine-specific (the ``sim_knn_ivf`` / ``sim_knn_ivf_exact``
    split, applied to dedup).  Fixture: same perturbed-copy plants as
    ``dedup_embedding_cosine``.  Measured planted recall at sf0.001:
    440/500 (88%) — the 60 misses are plants whose perturbation tips
    the nearest-centroid argmax across a cluster boundary, which is
    precisely centroid blocking's recall loss (LSH banding recovers
    ≥97% of the same plants).  The oracle replicates the blocking, so
    the hash check is exact even though the blocking itself is lossy;
    production SemDeDup accepts this or probes the top-2 clusters.

    HOT-CLUSTER SKEW (the 100 TB failure mode): within-cluster pairing
    is quadratic in cluster size, and the pair join shuffles on
    ``cluster_id`` — so if one centroid captures 10% of a web-scale
    corpus, that single key carries (0.1·N)² of the pair fan-out into
    ONE reducer task: the job stalls on a straggler (or OOMs) long
    before total work is the problem.  Mitigation is the same
    DF-ceiling idea as substring.py's hot-window guard, applied as
    SALTING: cap the per-task block size at a ceiling C by splitting a
    hot cluster's members into ⌈size/C⌉ chunks and joining on
    (cluster_id, chunk_i, chunk_j) upper-triangle block pairs.  The
    recipe: rank members by id within their cluster, chunk the rank
    at C, replicate each member to every chunk-pair block (a ≤ b) it
    belongs to (⌈size/C⌉ + 1 copies), join on (cluster_id, chunk_a,
    chunk_b) and keep id_a < id_b — every pair exactly once, at most
    C² per task.  Total work is unchanged (the output is every pair);
    only its distribution changes.  The declared query keeps the naive
    shape because the pinned-centroid fixture is skew-free and the
    oracle must mirror the blocking.

    MEASURED at ×10 (r16 session 5, 40k vectors / 51.3M within-cluster
    pairs): the declared shape runs ~89 s because the pair fan-out
    shuffles on 16 cluster ids (≤7 tasks on 32 cores) and the cosine
    is evaluated inside those tasks; enumeration itself is ~1.2 s.
    The scale-out recipe — fan id-only pairs, ``repartition`` the
    narrow pair list, broadcast-join the vectors back, THEN evaluate
    the cosine (``dedup_embedding_cosine``'s shape) — ran 28 s (3×)
    with byte-identical output (exceptAll = 0), but 3× SLOWER at
    grading scale (1.85 vs 0.65 s interleaved min-of-4: two broadcast
    joins + an exchange dominate 0.5M pairs), so the declared key
    keeps this shape and the recipe is recorded here.  A 64-term
    unrolled dot was also measured and REJECTED: 5.7× slower than the
    zip_with/aggregate fold (giant expression trees fall out of
    efficient whole-stage codegen; the interpreted HOF loop wins)."""
    e = corpus_vectors(spark, sf_dir)
    all_vecs = e.unionByName(_planted(e))
    cent = e.where(
        F.col("vec_id").between(SEM_CENT_LO, SEM_CENT_LO + SEM_N_CENT - 1)
    ).select((F.col("vec_id") - SEM_CENT_LO).alias("cluster_id"), F.col("v").alias("cv"))

    # argmax as min(struct(-cos_r, cluster_id)): identical selection to
    # the oracle's ROW_NUMBER ... ORDER BY cos DESC, cluster_id
    # (negating the rounded double is exact), but with map-side combine
    # instead of a row_number sort over the ×16 broadcast expansion
    # (the pq_encode lesson, VERDICT r4 item 4).
    # norms hoisted out of the ×16 crossJoin too (similarity.norm —
    # bit-identical; r15): one dot per (vec, centroid) pair
    av = all_vecs.select("vec_id", "v", F.expr(norm("v")).alias("nv"))
    cn = cent.select("cluster_id", "cv", F.expr(norm("cv")).alias("ncv"))
    asg = (
        av.crossJoin(F.broadcast(cn))
        .withColumn(
            "negc",
            -F.round(F.expr(f"{dot('v', 'cv')} / (nv * ncv)"), 6),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("negc"), F.col("cluster_id"))).alias("b"),
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", F.col("b.cluster_id").alias("cluster_id"))
    )
    # same per-vector norm precompute as dedup_embedding_cosine: the
    # within-cluster pair fan-out is the hot loop, so only dot(x,y)
    # remains a per-pair array aggregate
    # asg is self-joined into the pair fan-out below — persist so the
    # 16-centroid assignment scan runs once, not once per join side
    asg = asg.withColumn("nrm", F.expr(norm("v"))).persist()
    x = asg.select(
        "cluster_id", F.col("vec_id").alias("keep_id"), F.col("v").alias("xv"), F.col("nrm").alias("nx")
    )
    y = asg.select(
        "cluster_id", F.col("vec_id").alias("drop_id"), F.col("v").alias("yv"), F.col("nrm").alias("ny")
    )
    sim = F.round(F.expr(f"{dot('xv', 'yv')} / (nx * ny)"), 6)
    return (
        x.join(y, "cluster_id")
        .where(F.col("keep_id") < F.col("drop_id"))
        .select("cluster_id", "drop_id", "keep_id", sim.alias("sim"))
        .where(F.col("sim") >= EMBED_DUP_TAU)
    )
