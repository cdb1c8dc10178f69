"""Model-evaluation metrics as distributed relational ops — the
scoring half of an ML data pipeline: nearest-centroid classification
and its confusion matrix, computed without ever collecting vectors or
predictions to the driver.

Determinism contract (policy §7.2): centroids are ROUND(mean, 6) per
(label, dimension) — the same construction the declared
sim_label_centroids key hash-verifies; per-vector squared distances
are a SEQUENTIAL LEFT FOLD over dimensions (aggregate() ↔ DuckDB
list_reduce with the same 0.0 seed), so float accumulation order is
pinned on both engines; distances are rounded to 9 dp and argmin
ties break on the candidate label (min(struct) — the de-windowed
map-side-combine form, VERDICT r4 item 4).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from etl_builder_spark.folding import nan_to_null

from etl_builder_spark.llm.similarity import _dbl, cosine, dot, sq_dist
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

EMB_DIM = 64


def _mean_vectors(cells: DataFrame, *keys: str) -> DataFrame:
    """(*keys, c): each key's mean vector from its exploded
    (*keys, pos0, x) rows.  Each dimension sums 9-dp-rounded DECIMALs
    (order-free) over an exact count and rounds the mean to 6 dp; ``c``
    lists the dimensions in pos0 order."""
    return (
        cells.groupBy(*keys, "pos0")
        .agg(
            F.round(
                F.sum(F.round(F.col("x"), 9).cast("decimal(20,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cv")
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "cv"))), lambda s: s["cv"]
            ).alias("c")
        )
    )


@register(
    "ml_confusion_matrix",
    oracle=f"""
        WITH cent AS (
            SELECT label AS cand, i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            GROUP BY label, i
        ),
        clist AS (SELECT cand, list(cv ORDER BY pos) AS c FROM cent GROUP BY cand),
        scored AS (
            SELECT e.vec_id, e.label AS true_label, cl.cand,
                   ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE) - cl.c[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - cl.c[i]))),
                       (a, b) -> a + b), 9) AS d9
            FROM embeddings e CROSS JOIN clist cl
        ),
        pred AS (
            SELECT vec_id, true_label, cand AS pred_label
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                               ORDER BY d9, cand) AS rn
                  FROM scored)
            WHERE rn = 1
        ),
        conf AS (
            SELECT true_label, pred_label, COUNT(*) AS n
            FROM pred GROUP BY 1, 2
        )
        SELECT true_label, pred_label, n,
               ROUND(CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY true_label), 6) AS class_share
        FROM conf
    """,
    tags=("ML-eval",),
)
def ml_confusion_matrix(spark, sf_dir):
    """Nearest-centroid classifier confusion matrix: assign every
    vector to its closest per-label mean embedding, cross-tabulate
    against the true label, and emit each cell's share of its true
    class (the diagonal shares are per-class recall).  The evaluation
    loop of embedding-space labeling — duplicate-domain tagging,
    quality-tier routing, weak supervision — expressed as two
    aggregations and one broadcast join.

    100 TB posture: pass 1 reduces the corpus to a 10×{EMB_DIM}
    centroid table (map-side combined, broadcast back); pass 2 scores
    each vector against all 10 centroids expression-side (fold over
    the array — whole-stage codegen, no UDF) and argmins via
    min(struct) with map-side combine — no window over the ×10
    expansion, no driver collect; the confusion rollup is a ≤100-row
    aggregate.  The class-share window runs on the 100-row result."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    cent = _mean_vectors(
        e.select("label", F.posexplode(_dbl()).alias("pos0", "x")), "label"
    ).withColumnRenamed("label", "cand")
    scored = e.select("vec_id", F.col("label").alias("true_label"), _dbl().alias("v")).crossJoin(
        F.broadcast(cent)
    )
    d2 = F.expr(sq_dist("v", "c"))
    pred = (
        scored.select("vec_id", "true_label", "cand", F.round(d2, 9).alias("d9"))
        .groupBy("vec_id", "true_label")
        .agg(F.min(F.struct("d9", "cand")).alias("m"))
        .select("true_label", F.col("m.cand").alias("pred_label"))
    )
    conf = pred.groupBy("true_label", "pred_label").agg(F.count(F.lit(1)).alias("n"))
    share = F.round(
        F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("true_label")), 6
    )
    return conf.select("true_label", "pred_label", "n", share.alias("class_share"))


@register(
    "ml_auc_one_vs_rest",
    oracle=f"""
        WITH cent AS (
            SELECT label AS cand, i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            GROUP BY label, i
        ),
        clist AS (SELECT cand, list(cv ORDER BY pos) AS c FROM cent GROUP BY cand),
        scored AS (
            SELECT e.vec_id, e.label AS true_label, cl.cand,
                   ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE) - cl.c[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - cl.c[i]))),
                       (a, b) -> a + b), 9) AS d9
            FROM embeddings e CROSS JOIN clist cl
        ),
        ranked AS (
            SELECT cand, true_label, d9,
                   RANK() OVER (PARTITION BY cand ORDER BY d9 DESC) AS rmin,
                   COUNT(*) OVER (PARTITION BY cand, d9) AS cties
            FROM scored
        ),
        stats AS (
            SELECT cand AS label,
                   CAST(SUM(CASE WHEN true_label = cand THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(SUM(CASE WHEN true_label = cand THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_neg,
                   SUM(CASE WHEN true_label = cand
                            THEN rmin + (cties - 1) / 2.0 ELSE 0.0 END) AS rpos
            FROM ranked GROUP BY cand
        )
        SELECT label, n_pos, n_neg,
               ROUND((rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6) AS auc
        FROM stats
    """,
    tags=("ML-eval",),
)
def ml_auc_one_vs_rest(spark, sf_dir):
    """Exact ROC-AUC per class, one-vs-rest, for the nearest-centroid
    scorer: AUC computed by the Mann–Whitney rank-sum identity —
    AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋) with average ranks for ties —
    so the metric needs ONE sort per class, never the O(n²)
    pos×neg comparison or a thresholds sweep.  Scores are negated
    centroid distances (rank ascending by −d ≡ rank descending by d);
    ranks are exact integers, tie-averaged ranks are exact halves
    (no float accumulation error below 2⁵³), and the one division is
    identical IEEE on both engines.

    100 TB posture: rank-sum is THE distributed AUC — one shuffle on
    the class key, a per-class sort (the unavoidable cost of exact
    AUC; trade for a binned approximation when classes are huge), and
    a map-side-combined rollup; the ×|classes| scoring expansion
    stays expression-side against broadcast centroids, as in
    ml_confusion_matrix."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    cent = _mean_vectors(
        e.select("label", F.posexplode(_dbl()).alias("pos0", "x")), "label"
    ).withColumnRenamed("label", "cand")
    d2 = F.expr(sq_dist("v", "c"))
    scored = (
        e.select("vec_id", F.col("label").alias("true_label"), _dbl().alias("v"))
        .crossJoin(F.broadcast(cent))
        .select("true_label", "cand", F.round(d2, 9).alias("d9"))
    )
    ranked = scored.select(
        "cand",
        "true_label",
        F.rank().over(Window.partitionBy("cand").orderBy(F.col("d9").desc())).alias("rmin"),
        F.count(F.lit(1)).over(Window.partitionBy("cand", "d9")).alias("cties"),
    )
    is_pos = F.col("true_label") == F.col("cand")
    n_pos = F.sum(F.when(is_pos, 1).otherwise(0)).cast("bigint")
    n_neg = F.sum(F.when(is_pos, 0).otherwise(1)).cast("bigint")
    rpos = F.sum(
        F.when(is_pos, F.col("rmin") + (F.col("cties") - 1) / F.lit(2.0)).otherwise(0.0)
    )
    stats = ranked.groupBy(F.col("cand").alias("label")).agg(
        n_pos.alias("n_pos"), n_neg.alias("n_neg"), rpos.alias("rpos")
    )
    # try_divide (round-12 degenerate sweep): a one-label corpus has no
    # negatives for its class — AUC is the defined NULL on both engines
    auc = F.round(
        F.try_divide(
            F.col("rpos") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0),
            F.col("n_pos") * F.col("n_neg"),
        ),
        6,
    )
    return stats.select("label", "n_pos", "n_neg", auc.alias("auc"))


@register(
    "ml_user_features_asof",
    oracle="""
        WITH ref AS (SELECT MAX(ts) AS cutoff FROM events),
        feats AS (
            SELECT user_id,
                   COUNT(*) AS n_events_total,
                   CAST(COUNT(*) FILTER (WHERE epoch_us(cutoff) - epoch_us(ts)
                                               < 7 * 86400000000) AS BIGINT)
                       AS n_events_7d,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
                        WHERE event_type = 'purchase'
                          AND epoch_us(cutoff) - epoch_us(ts) < 7 * 86400000000)
                        AS DOUBLE) AS spend_7d,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
                        WHERE event_type = 'purchase'
                          AND epoch_us(cutoff) - epoch_us(ts) < 28 * 86400000000)
                        AS DOUBLE) AS spend_28d,
                   CAST(MIN(epoch_us(cutoff) - epoch_us(ts)) AS DOUBLE)
                       / 86400000000.0 AS days_since_last
            FROM events CROSS JOIN ref
            GROUP BY user_id
        )
        SELECT user_id, n_events_total, n_events_7d,
               COALESCE(spend_7d, 0.0) AS spend_7d,
               COALESCE(spend_28d, 0.0) AS spend_28d,
               days_since_last
        FROM feats
    """,
    tags=("ML-features",),
)
def ml_user_features_asof(spark, sf_dir):
    """Point-in-time feature building — the feature-store batch job:
    per-user trailing-window aggregates (7-day activity, 7/28-day
    purchase spend, recency) AS OF a training cutoff, all windows
    anchored to the same cutoff so no feature leaks future data (the
    temporal-correctness rule cdc_point_in_time_join enforces for
    dimension attributes, applied to aggregates).  Every trailing
    window is a conditional aggregate against the broadcast cutoff —
    ONE scan produces the whole feature matrix, however many windows
    are attached (same one-pass contract as quality.py's audit).

    100 TB posture: one hash aggregation on user_id with map-side
    combine; window predicates are exact µs arithmetic pushed inside
    the aggregate, so adding features never adds scans; recency is a
    MIN, spends exact DECIMAL (policy §7.2).  The cutoff is the
    corpus high-water mark so the oracle can mirror it; production
    passes the training-run timestamp."""
    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("cutoff"))
    age_us = F.unix_micros(F.col("cutoff")) - F.unix_micros(F.col("ts"))
    day_us = 86_400_000_000
    is_purchase = F.col("event_type") == "purchase"
    from etl_builder_spark.policy import money

    spend = lambda days: F.coalesce(  # noqa: E731
        F.sum(F.when(is_purchase & (age_us < days * day_us), money("value")))
        .cast("double"),
        F.lit(0.0),
    )
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_total"),
            F.count(F.when(age_us < 7 * day_us, F.lit(1))).alias("n_events_7d"),
            spend(7).alias("spend_7d"),
            spend(28).alias("spend_28d"),
            (F.min(age_us).cast("double") / F.lit(86400000000.0)).alias("days_since_last"),
        )
    )


@register(
    "ml_lift_gain_deciles",
    oracle=f"""
        WITH cent AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            WHERE label = 3
            GROUP BY i
        ),
        clist AS (SELECT list(cv ORDER BY pos) AS c FROM cent),
        scored AS (
            SELECT e.vec_id, (e.label = 3) AS is_pos,
                   ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE) - cl.c[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - cl.c[i]))),
                       (a, b) -> a + b), 9) AS d9
            FROM embeddings e CROSS JOIN clist cl
        ),
        ranked AS (
            SELECT is_pos, NTILE(10) OVER (ORDER BY d9, vec_id) AS decile
            FROM scored
        ),
        per AS (
            SELECT CAST(decile AS INT) AS decile,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
            FROM ranked GROUP BY decile
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt
            FROM per
        )
        SELECT decile, n, n_pos,
               ROUND(CAST(n_pos AS DOUBLE) / n
                     / (CAST(pt AS DOUBLE) / nt), 6) AS lift,
               ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE) / pt, 6)
                   AS cum_capture
        FROM per CROSS JOIN tot
    """,
    tags=("ML-eval",),
)
def ml_lift_gain_deciles(spark, sf_dir):
    """Decile lift & cumulative-gain table for the nearest-centroid
    scorer (class 3 one-vs-rest): rank the population by score, cut
    into 10 equal deciles, and report each decile's lift over the
    base rate plus the cumulative share of positives captured — the
    model-evaluation table behind every targeting/campaign decision
    ("mail the top 2 deciles").  NTILE ties break on vec_id
    (policy §7.2.3), counts are exact integers, and the only floats
    are ratio divisions of exact counts rounded once.

    100 TB posture: the scoring pass is expression-only against one
    broadcast centroid; the global NTILE runs on (score, id) pairs —
    at extreme scale swap it for bucketing on approx-quantile score
    edges (D3/D10-approx tradeoff), same downstream table; the decile
    rollup and the 10-row cumulative window are negligible."""
    from pyspark.sql import Window

    ranked = _centroid_scored(spark, sf_dir).select(
        "is_pos", F.ntile(10).over(Window.orderBy("d9", "vec_id")).alias("decile")
    )
    return _lift_table(ranked, F.col("decile").cast("int").alias("decile"))


def _centroid_scored(spark, sf_dir):
    """(vec_id, is_pos, d9): every embedding scored by its 9 dp squared
    distance to the class-3 mean vector — the scorer both lift keys
    rank."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _mean_vectors(
        e.where(F.col("label") == 3).select(F.posexplode(_dbl()).alias("pos0", "x"))
    )
    d2 = F.expr(sq_dist("v", "c"))
    return (
        e.select("vec_id", (F.col("label") == 3).alias("is_pos"), _dbl().alias("v"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "is_pos", F.round(d2, 9).alias("d9"))
    )


def _lift_table(deciled, decile):
    """Per-decile (decile, n, n_pos, lift, cum_capture) from (is_pos, …)
    rows grouped on the ``decile`` column expression."""
    from pyspark.sql import Window

    per = deciled.groupBy(decile).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
    ).persist()
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nt"), F.sum("n_pos").cast("bigint").alias("pt")
    )
    cum = F.sum("n_pos").over(
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            # try_divide (round-12 degenerate sweep): zero positives in
            # the corpus zero the base rate — lift/capture are the
            # defined NULL on both engines
            F.round(
                F.try_divide(
                    F.col("n_pos").cast("double") / F.col("n"),
                    F.col("pt").cast("double") / F.col("nt"),
                ),
                6,
            ).alias("lift"),
            F.round(F.try_divide(cum.cast("double"), F.col("pt")), 6).alias(
                "cum_capture"
            ),
        )
    )


#: power-iteration settings for the PCA component key
PCA_ITERS = 3


def _pca_oracle() -> str:
    head = f"""
        WITH mu AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            GROUP BY i
        ),
        mul AS (SELECT list(m ORDER BY pos) AS ml FROM mu),
        xc AS (
            SELECT vec_id,
                   list_transform(range(1, {EMB_DIM + 1}),
                                  i -> CAST(embedding[i] AS DOUBLE) - ml[i]) AS x
            FROM embeddings CROSS JOIN mul
        ),
        v0 AS (
            SELECT list_transform(range(1, {EMB_DIM + 1}),
                                  i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END) AS v
        )"""
    blocks = []
    for k in range(1, PCA_ITERS + 1):
        prev = f"v{k - 1}"
        blocks.append(f"""
        s{k} AS (
            SELECT vec_id, x,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(range(1, {EMB_DIM + 1}), i -> x[i] * v[i])),
                       (a, b) -> a + b) AS s
            FROM xc CROSS JOIN {prev}
        ),
        u{k} AS (
            SELECT i AS pos,
                   SUM(CAST(ROUND(s * x[i], 9) AS DECIMAL(38,12))) AS u
            FROM s{k} CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            GROUP BY i
        ),
        n{k} AS (
            SELECT SUM(CAST(ROUND(CAST(u AS DOUBLE) * CAST(u AS DOUBLE), 9)
                            AS DECIMAL(38,12))) AS nn
            FROM u{k}
        ),
        v{k} AS (
            SELECT list(ROUND(CAST(u AS DOUBLE) / sqrt(CAST(nn AS DOUBLE)), 9)
                        ORDER BY pos) AS v
            FROM u{k} CROSS JOIN n{k}
        )""")
    last = PCA_ITERS
    tail = f"""
        SELECT CAST(pos AS INT) AS pos,
               ROUND(CAST(u AS DOUBLE) / sqrt(CAST(nn AS DOUBLE)), 9) AS loading,
               ROUND(sqrt(CAST(nn AS DOUBLE)), 6) AS component_norm
        FROM u{last} CROSS JOIN n{last}"""
    return head + "," + ",".join(blocks) + tail


@register("ml_pca_power_component", oracle=_pca_oracle(), tags=("ML-pca",))
def ml_pca_power_component(spark, sf_dir):
    """Top principal direction of the (mean-centered) embedding cloud
    by DISTRIBUTED POWER ITERATION — {PCA_ITERS} fixed iterations of
    v ← normalize(Xᵀ(Xv)) starting from e₁ — the linear-algebra
    workhorse behind PCA whitening, spectral embedding-drift
    monitors, and ABTT-style dominant-direction removal, computed
    WITHOUT materializing the 64×64 covariance or collecting vectors:
    each iteration is one broadcast of the 64-float v, one fold per
    row for the projection s = x·v, and one per-dimension aggregation
    for u = Σ s·x — all map-side combinable.

    Determinism (policy §7.2): centered vectors use the rounded mean
    (the centroid contract); every cross-row accumulation sums
    ROUND(·,9) terms as DECIMAL; every fold is fixed left-to-right;
    normalization divides identically-derived doubles; the iterate is
    re-rounded each step so both engines walk the SAME trajectory.
    Fixed iteration count keeps the plan static (the
    graph_pagerank_fixed contract) — convergence-tested variants
    belong in driver loops with ``session.round_barrier`` (llm/cluster.py).

    100 TB posture: per iteration the data is read once (the centered
    frame is persisted across all iterations), shuffle traffic is 64
    partial sums per mapper, and v never exceeds a broadcast row —
    this is exactly how large-scale PCA/embedding-whitening runs."""
    from pyspark.sql import Window  # noqa: F401  (parity with siblings)

    e = load_table(spark, sf_dir, "embeddings")
    mu = _mean_vectors(e.select(F.posexplode(_dbl()).alias("pos0", "x")))
    xc = (
        e.select("vec_id", _dbl().alias("raw"))
        .crossJoin(F.broadcast(mu))
        .select(
            "vec_id",
            F.zip_with(F.col("raw"), F.col("c"), lambda a, b: a - b).alias("x"),
        )
        .persist()
    )
    v_frame = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: F.when(i == 1, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("v")
    )
    u = n2 = None
    for _ in range(PCA_ITERS):
        s = xc.crossJoin(F.broadcast(v_frame)).select(
            "x",
            F.expr(dot("x", "v")).alias("s"),
        )
        u = (
            s.select(F.posexplode("x").alias("pos0", "xij"), "s")
            .groupBy((F.col("pos0") + 1).alias("pos"))
            .agg(
                F.sum(F.round(F.col("s") * F.col("xij"), 9).cast("decimal(38,12)")).alias("u")
            )
            .persist()  # feeds the norm AND the next iterate / output
        )
        ud = F.col("u").cast("double")
        n2 = u.agg(
            F.sum(F.round(ud * ud, 9).cast("decimal(38,12)")).alias("nn")
        )
        # try_divide (round-12 degenerate sweep): an all-identical cloud
        # centers to zero — the component is the defined NULL then
        vj = F.round(F.try_divide(ud, F.sqrt(F.col("nn").cast("double"))), 9)
        v_frame = (
            u.crossJoin(F.broadcast(n2))
            .groupBy()
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", vj.alias("vj")))),
                    lambda st: st["vj"],
                ).alias("v")
            )
        )
    ud = F.col("u").cast("double")
    return u.crossJoin(F.broadcast(n2)).select(
        F.col("pos").cast("int").alias("pos"),
        F.round(F.try_divide(ud, F.sqrt(F.col("nn").cast("double"))), 9).alias("loading"),
        F.round(F.sqrt(F.col("nn").cast("double")), 6).alias("component_norm"),
    )


#: Lloyd-iteration settings for the exact k-means key
KMEANS_K = 8
KMEANS_ITERS = 2


def _kmeans_oracle() -> str:
    dist = (
        "ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {EMB_DIM + 1}), "
        "i -> (x.v[i] - {cent}.c[i]) * (x.v[i] - {cent}.c[i]))), "
        "(a, b) -> a + b), 9)"
    )
    head = f"""
        WITH x AS (
            SELECT vec_id,
                   list_transform(range(1, {EMB_DIM + 1}),
                                  i -> CAST(embedding[i] AS DOUBLE)) AS v
            FROM embeddings
        ),
        c0 AS (SELECT vec_id AS cid, v AS c FROM x WHERE vec_id < {KMEANS_K})"""
    blocks = []
    for k in range(1, KMEANS_ITERS + 1):
        prev = f"c{k - 1}"
        d = dist.format(cent=prev)
        blocks.append(f"""
        s{k} AS (
            SELECT x.vec_id, {prev}.cid, {d} AS d9
            FROM x CROSS JOIN {prev}
        ),
        a{k} AS (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d9, cid) AS rn
                FROM s{k}
            ) WHERE rn = 1
        ),
        m{k} AS (
            SELECT a{k}.cid, i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(x.v[i], 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM a{k} JOIN x USING (vec_id)
            CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            GROUP BY a{k}.cid, i
        ),
        c{k} AS (SELECT cid, list(cv ORDER BY pos) AS c FROM m{k} GROUP BY cid)""")
    last = f"c{KMEANS_ITERS}"
    d = dist.format(cent=last)
    tail = f""",
        sf AS (
            SELECT x.vec_id, {last}.cid, {d} AS d9
            FROM x CROSS JOIN {last}
        ),
        af AS (
            SELECT vec_id, cid, d9 FROM (
                SELECT vec_id, cid, d9,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d9, cid) AS rn
                FROM sf
            ) WHERE rn = 1
        )
        SELECT cid AS cluster_id,
               COUNT(*) AS n_points,
               ROUND(CAST(SUM(CAST(d9 AS DECIMAL(38,9))) AS DOUBLE), 6) AS inertia
        FROM af GROUP BY cid"""
    return head + "," + ",".join(blocks) + tail


@register("ml_kmeans_lloyd_exact", oracle=_kmeans_oracle(), tags=("ML-kmeans",))
def ml_kmeans_lloyd_exact(spark, sf_dir):
    """K-means with the FULL Lloyd loop under the exact hash: k=8
    centroids initialized at pinned corpus points (vec_id < 8 — the
    sim_knn_ivf_exact convention), 2 assign→recompute iterations,
    then the final assignment's cluster sizes and exact inertia.
    This upgrades the exact-twin coverage from IVF's single
    assignment step to the ITERATIVE training dynamics themselves:
    both engines must walk the same trajectory — same argmins
    (rounded distances, cid tiebreak), same recomputed centroids
    (rounded per-dim means), same inertia sums (decimal) — so the
    hash check pins the whole algorithm, not one pass.

    100 TB posture: each iteration is one broadcast of the k×64
    centroid table, one expression-fold scoring pass, a map-side-
    combined argmin (min(struct) — never a window over the ×k
    expansion, VERDICT r4 item 4), and a (k×dim)-cell mean; the
    vector frame is persisted across iterations (read once).  Clusters
    that lose all points drop out on both engines by the same rule.
    Fixed iteration count keeps the plan static (graph_pagerank_fixed
    contract); production k-means adds convergence checks driver-side
    with ``session.round_barrier`` lineage cuts (llm/cluster.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select("vec_id", _dbl().alias("v")).persist()
    cent = x.where(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    d2 = F.expr(sq_dist("v", "c"))

    def assign(centroids, carry_v=False):
        # carry_v threads the vector THROUGH the argmin struct (r15,
        # guide §2.4): cid is unique per vec_id, so min(struct(d9, cid))
        # and min(struct(d9, cid, v)) pick the same row and the centroid
        # recompute below reads v straight off the assignment — no
        # per-iteration assignment⋈vectors re-join (one exchange + two
        # sorts per Lloyd round removed; same bytes move, fewer stages).
        fields = ["d9", "cid", "v"] if carry_v else ["d9", "cid"]
        # project v into scored only when the argmin actually carries it
        # (ADVICE r15: the optimizer pruned the dead column anyway, but
        # the projection contradicted the carry_v flag)
        scored_cols = ["vec_id", F.col("cid"), F.round(d2, 9).alias("d9")]
        if carry_v:
            scored_cols.append(F.col("v"))
        scored = x.crossJoin(F.broadcast(centroids)).select(*scored_cols)
        out = scored.groupBy("vec_id").agg(
            F.min(F.struct(*[F.col(f) for f in fields])).alias("m")
        )
        cols = ["vec_id", F.col("m.cid").alias("cid"), F.col("m.d9").alias("d9")]
        if carry_v:
            cols.append(F.col("m.v").alias("v"))
        return out.select(*cols)

    for _ in range(KMEANS_ITERS):
        a = assign(cent, carry_v=True)
        cent = _mean_vectors(a.select("cid", F.posexplode("v").alias("pos0", "x")), "cid")
    final = assign(cent)
    return final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum(F.col("d9").cast("decimal(38,9)")).cast("double"), 6).alias("inertia"),
    )


@register(
    "ml_rfm_segmentation",
    oracle="""
        WITH ref AS (SELECT MAX(ts) AS cutoff FROM events),
        base AS (
            SELECT user_id,
                   CAST(MIN(epoch_us(cutoff) - epoch_us(ts)) AS BIGINT) AS recency_us,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                       AS frequency,
                   CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
                        WHERE event_type = 'purchase'), 0) AS DOUBLE) AS monetary
            FROM events CROSS JOIN ref
            GROUP BY user_id
        ),
        scored AS (
            SELECT user_id, recency_us, frequency, monetary,
                   CAST(NTILE(5) OVER (ORDER BY recency_us DESC, user_id) AS INT)
                       AS r_score,
                   CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_score,
                   CAST(NTILE(5) OVER (ORDER BY monetary, user_id) AS INT) AS m_score
            FROM base
        )
        SELECT user_id, recency_us, frequency, monetary,
               r_score, f_score, m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                   || CAST(m_score AS VARCHAR) AS rfm_segment,
               CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
                    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS lifecycle
        FROM scored
    """,
    tags=("ML-rfm",),
)
def ml_rfm_segmentation(spark, sf_dir):
    """RFM segmentation — the marketing-analytics classic: each user
    scored 1–5 by Recency (lower age ⇒ higher score), Frequency, and
    Monetary quintiles, concatenated into the 555-style segment code
    and mapped to lifecycle labels (champion / at-risk / hibernating
    …).  Quintiles are NTILE(5) with the user_id tiebreak
    (policy §7.2.3 — bare NTILE over tied monetary values would be
    nondeterministic); recency is exact µs against the corpus
    high-water mark (the ml_user_features_asof cutoff discipline),
    monetary exact decimal.

    100 TB posture: one user-level aggregation (map-side combined),
    then three rank windows over the per-USER frame (|users|, not
    |events|); at extreme user counts swap NTILE for bucketing on
    approx-quantile edges — the downstream segment logic is
    unchanged."""
    from pyspark.sql import Window

    base = _rfm_base(spark, sf_dir)
    r = F.ntile(5).over(Window.orderBy(F.col("recency_us").desc(), "user_id")).cast("int")
    f = F.ntile(5).over(Window.orderBy("frequency", "user_id")).cast("int")
    m = F.ntile(5).over(Window.orderBy("monetary", "user_id")).cast("int")
    scored = base.select(
        "user_id", "recency_us", "frequency", "monetary",
        r.alias("r_score"), f.alias("f_score"), m.alias("m_score"),
    )
    return _rfm_segments(scored)


def _rfm_base(spark, sf_dir):
    """(user_id, recency_us, frequency, monetary): the per-user RFM
    metrics both segmentation keys score — recency in exact µs against
    the corpus high-water mark, purchase count and exact purchase value."""
    from etl_builder_spark.policy import money

    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("cutoff"))
    age = F.unix_micros(F.col("cutoff")) - F.unix_micros(F.col("ts"))
    is_p = F.col("event_type") == "purchase"
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.min(age).cast("bigint").alias("recency_us"),
            F.count(F.when(is_p, 1)).cast("bigint").alias("frequency"),
            F.coalesce(F.sum(F.when(is_p, money("value"))).cast("double"), F.lit(0.0)).alias(
                "monetary"
            ),
        )
    )


def _rfm_segments(scored):
    """Append the 555-style segment code and the lifecycle label to
    (…, r_score, f_score, m_score) rows."""
    lifecycle = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk_loyal")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new_or_promising")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.select(
        "*",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
        lifecycle.alias("lifecycle"),
    )


#: quantile fractions for the 5-way RFM bucketing twin
_RFM_QS = "array(0.2D, 0.4D, 0.6D, 0.8D)"


@register(
    "ml_rfm_segmentation_bucketed",
    oracle="""
        WITH ref AS (SELECT MAX(ts) AS cutoff FROM events),
        base AS (
            SELECT user_id,
                   CAST(MIN(epoch_us(cutoff) - epoch_us(ts)) AS BIGINT) AS recency_us,
                   CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                       AS frequency,
                   CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (
                        WHERE event_type = 'purchase'), 0) AS DOUBLE) AS monetary
            FROM events CROSS JOIN ref
            GROUP BY user_id
        ),
        edges AS (
            SELECT ROUND(quantile_cont(recency_us, 0.2), 6) AS r20,
                   ROUND(quantile_cont(recency_us, 0.4), 6) AS r40,
                   ROUND(quantile_cont(recency_us, 0.6), 6) AS r60,
                   ROUND(quantile_cont(recency_us, 0.8), 6) AS r80,
                   ROUND(quantile_cont(frequency, 0.2), 6) AS f20,
                   ROUND(quantile_cont(frequency, 0.4), 6) AS f40,
                   ROUND(quantile_cont(frequency, 0.6), 6) AS f60,
                   ROUND(quantile_cont(frequency, 0.8), 6) AS f80,
                   ROUND(quantile_cont(monetary, 0.2), 6) AS m20,
                   ROUND(quantile_cont(monetary, 0.4), 6) AS m40,
                   ROUND(quantile_cont(monetary, 0.6), 6) AS m60,
                   ROUND(quantile_cont(monetary, 0.8), 6) AS m80
            FROM base
        ),
        scored AS (
            SELECT user_id, recency_us, frequency, monetary,
                   CAST(1 + CAST(recency_us < r80 AS INT) + CAST(recency_us < r60 AS INT)
                          + CAST(recency_us < r40 AS INT) + CAST(recency_us < r20 AS INT)
                        AS INT) AS r_score,
                   CAST(1 + CAST(frequency > f20 AS INT) + CAST(frequency > f40 AS INT)
                          + CAST(frequency > f60 AS INT) + CAST(frequency > f80 AS INT)
                        AS INT) AS f_score,
                   CAST(1 + CAST(monetary > m20 AS INT) + CAST(monetary > m40 AS INT)
                          + CAST(monetary > m60 AS INT) + CAST(monetary > m80 AS INT)
                        AS INT) AS m_score
            FROM base CROSS JOIN edges
        )
        SELECT user_id, recency_us, frequency, monetary,
               r_score, f_score, m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                   || CAST(m_score AS VARCHAR) AS rfm_segment,
               CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
                    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS lifecycle
        FROM scored
    """,
    tags=("ML-rfm-bucketed",),
)
def ml_rfm_segmentation_bucketed(spark, sf_dir):
    """``ml_rfm_segmentation`` re-scored WITHOUT the unpartitioned
    NTILE windows — the documented 100 TB swap, now proven under the
    exact hash (VERDICT r5 item 4): quintile EDGES come from one tiny
    global aggregation (a 1-row model artifact, broadcast), and every
    user is scored by comparing against the four edges in a plain
    projection.  No global sort anywhere: the scoring pass is
    embarrassingly parallel at any user count, which is what the
    NTILE form cannot be (a billion-user frame through one partition).

    Semantics vs the NTILE parent: tied metric values land in ONE
    bucket here (edge comparison) instead of being split to equalize
    bucket sizes — the usual, and arguably more honest, production
    behavior.  Edges are exact interpolated percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, verified
    bit-equal on this corpus), rounded 6 dp before comparison so both
    engines bucket against identical constants; at extreme scale swap
    in ``approx_percentile`` with the same downstream CASE logic.

    The same two-pass shape generalizes to the other global-window
    rankers flagged in VERDICT r5 (lift/gain deciles,
    cumulative-share, KS)."""
    base = _rfm_base(spark, sf_dir).persist()
    edges = (
        base.agg(
            F.expr(f"percentile(recency_us, {_RFM_QS})").alias("re"),
            F.expr(f"percentile(frequency, {_RFM_QS})").alias("fe"),
            F.expr(f"percentile(monetary, {_RFM_QS})").alias("me"),
        )
        .select(
            *[F.round(F.col("re")[i], 6).alias(f"r{20 * (i + 1)}") for i in range(4)],
            *[F.round(F.col("fe")[i], 6).alias(f"f{20 * (i + 1)}") for i in range(4)],
            *[F.round(F.col("me")[i], 6).alias(f"m{20 * (i + 1)}") for i in range(4)],
        )
    )
    b = lambda c: c.cast("int")  # noqa: E731
    r_score = (
        F.lit(1)
        + b(F.col("recency_us") < F.col("r80"))
        + b(F.col("recency_us") < F.col("r60"))
        + b(F.col("recency_us") < F.col("r40"))
        + b(F.col("recency_us") < F.col("r20"))
    ).cast("int")
    f_score = (
        F.lit(1)
        + b(F.col("frequency") > F.col("f20"))
        + b(F.col("frequency") > F.col("f40"))
        + b(F.col("frequency") > F.col("f60"))
        + b(F.col("frequency") > F.col("f80"))
    ).cast("int")
    m_score = (
        F.lit(1)
        + b(F.col("monetary") > F.col("m20"))
        + b(F.col("monetary") > F.col("m40"))
        + b(F.col("monetary") > F.col("m60"))
        + b(F.col("monetary") > F.col("m80"))
    ).cast("int")
    scored = base.crossJoin(F.broadcast(edges)).select(
        "user_id", "recency_us", "frequency", "monetary",
        r_score.alias("r_score"), f_score.alias("f_score"), m_score.alias("m_score"),
    )
    return _rfm_segments(scored)


@register(
    "ml_lift_gain_deciles_bucketed",
    oracle=f"""
        WITH cent AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            WHERE label = 3
            GROUP BY i
        ),
        clist AS (SELECT list(cv ORDER BY pos) AS c FROM cent),
        scored AS (
            SELECT e.vec_id, (e.label = 3) AS is_pos,
                   ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE) - cl.c[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - cl.c[i]))),
                       (a, b) -> a + b), 9) AS d9
            FROM embeddings e CROSS JOIN clist cl
        ),
        edges AS (
            SELECT ROUND(quantile_cont(d9, 0.1), 9) AS e1,
                   ROUND(quantile_cont(d9, 0.2), 9) AS e2,
                   ROUND(quantile_cont(d9, 0.3), 9) AS e3,
                   ROUND(quantile_cont(d9, 0.4), 9) AS e4,
                   ROUND(quantile_cont(d9, 0.5), 9) AS e5,
                   ROUND(quantile_cont(d9, 0.6), 9) AS e6,
                   ROUND(quantile_cont(d9, 0.7), 9) AS e7,
                   ROUND(quantile_cont(d9, 0.8), 9) AS e8,
                   ROUND(quantile_cont(d9, 0.9), 9) AS e9
            FROM scored
        ),
        bucketed AS (
            SELECT is_pos,
                   CAST(1 + CAST(d9 > e1 AS INT) + CAST(d9 > e2 AS INT)
                          + CAST(d9 > e3 AS INT) + CAST(d9 > e4 AS INT)
                          + CAST(d9 > e5 AS INT) + CAST(d9 > e6 AS INT)
                          + CAST(d9 > e7 AS INT) + CAST(d9 > e8 AS INT)
                          + CAST(d9 > e9 AS INT) AS INT) AS decile
            FROM scored CROSS JOIN edges
        ),
        per AS (
            SELECT decile,
                   COUNT(*) AS n,
                   CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
            FROM bucketed GROUP BY decile
        ),
        tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt
            FROM per
        )
        SELECT decile, n, n_pos,
               ROUND(CAST(n_pos AS DOUBLE) / n
                     / (CAST(pt AS DOUBLE) / nt), 6) AS lift,
               ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE) / pt, 6)
                   AS cum_capture
        FROM per CROSS JOIN tot
    """,
    tags=("ML-eval-bucketed",),
)
def ml_lift_gain_deciles_bucketed(spark, sf_dir):
    """``ml_lift_gain_deciles`` WITHOUT the global NTILE sort — the
    second instance of the bucketed-quantile swap
    (``ml_rfm_segmentation_bucketed`` is the first), proving the
    pattern generalizes across the VERDICT-flagged global-window
    rankers: decile EDGES come from one percentile aggregation
    (9 interpolated order statistics, a 1-row broadcast artifact),
    every row self-assigns its decile by edge comparison in a plain
    projection, and only the 10-row decile rollup remains.

    Tie semantics: rows tied at an edge land in ONE decile (closed on
    the left) instead of NTILE's forced equal splits, so decile sizes
    can be uneven under heavy ties — the honest bucketed behavior.
    Edges rounded 9 dp (the d9 score's own granularity) before
    comparison; Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    verified bit-equal on this corpus."""
    scored = _centroid_scored(spark, sf_dir).persist()
    qs = ", ".join(f"{k / 10:.1f}D" for k in range(1, 10))
    edges = scored.agg(F.expr(f"percentile(d9, array({qs}))").alias("es")).select(
        *[F.round(F.col("es")[i], 9).alias(f"e{i + 1}") for i in range(9)]
    )
    decile = F.lit(1)
    for k in range(1, 10):
        decile = decile + (F.col("d9") > F.col(f"e{k}")).cast("int")
    deciled = scored.crossJoin(F.broadcast(edges)).select(
        "is_pos", decile.cast("int").alias("decile")
    )
    return _lift_table(deciled, "decile")


@register(
    "ml_calibration_bins",
    oracle=f"""
        WITH cent AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            WHERE label = 3
            GROUP BY i
        ),
        clist AS (SELECT list(cv ORDER BY pos) AS c FROM cent),
        vecs AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        scored AS (
            SELECT (label = 3) AS is_pos,
                   ROUND((ROUND(list_dot_product(v, cl.c)
                                / (sqrt(list_dot_product(v, v))
                                   * sqrt(list_dot_product(cl.c, cl.c))), 6)
                          + 1) / 2, 9) AS p
            FROM vecs CROSS JOIN clist cl
        ),
        binned AS (
            SELECT is_pos, p,
                   CAST(LEAST(CAST(FLOOR(p * 10) AS INT), 9) + 1 AS INT) AS bin
            FROM scored
        )
        SELECT bin,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               ROUND(CAST(SUM(CAST(p AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_score,
               ROUND(CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS pos_rate
        FROM binned GROUP BY bin
    """,
    tags=("ML-calibration",),
)
def ml_calibration_bins(spark, sf_dir):
    """Calibration (reliability) table for the centroid-similarity
    scorer: map cosine-to-class-3-centroid into a [0,1] pseudo-
    probability, cut into 10 FIXED-WIDTH bins, and report each bin's
    mean predicted score against its observed positive rate — the
    table behind every reliability diagram and the production check
    that a trained scorer's probabilities mean what they say.

    Fixed-width binning (not quantiles) is the point: the bin edges
    are constants, so the whole key is one expression-only scan plus a
    10-group hash aggregate — no sort, no window, no second pass;
    per-bin mean scores sum 9-dp-rounded DECIMALs so the aggregation
    is order-free (policy §7.2).  Empty bins are absent rows (honest:
    a reliability diagram can't say anything where there's no mass)."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _mean_vectors(
        e.where(F.col("label") == 3).select(F.posexplode(_dbl()).alias("pos0", "x"))
    )
    p = F.round((F.round(F.expr(cosine("v", "c")), 6) + 1) / 2, 9)
    binned = (
        e.select((F.col("label") == 3).alias("is_pos"), _dbl().alias("v"))
        .crossJoin(F.broadcast(cent))
        .select(
            "is_pos",
            p.alias("p"),
            (F.least(F.floor(p * 10).cast("int"), F.lit(9)) + 1).cast("int").alias("bin"),
        )
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("n_pos"),
        F.round(
            F.sum(F.col("p").cast("decimal(20,9)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_score"),
        F.round(
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("pos_rate"),
    )


@register(
    "ml_ab_test_cuped",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(user_id % 2 AS INT) AS variant,
                   COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                     THEN CAST(value AS DECIMAL(18,2)) END), 0)
                       AS x,
                   COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                     THEN CAST(value AS DECIMAL(18,2)) END), 0)
                       AS y
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        mom AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx
            FROM per_user
        ),
        th AS (
            SELECT n,
                   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
                   sx / n AS mu_x
            FROM mom
        ),
        adj AS (
            SELECT variant,
                   CAST(ROUND(CAST(y AS DOUBLE)
                              - theta * (CAST(x AS DOUBLE) - mu_x), 6) * 1000000
                        AS BIGINT) AS yi
            FROM per_user CROSS JOIN th
        ),
        v AS (
            SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(SUM(CASE WHEN variant = 0 THEN yi ELSE 0 END) AS DOUBLE)
                       / 1000000.0 AS s0,
                   CAST(SUM(CASE WHEN variant = 1 THEN yi ELSE 0 END) AS DOUBLE)
                       / 1000000.0 AS s1,
                   CAST(SUM(CASE WHEN variant = 0
                                 THEN CAST(yi AS HUGEINT) * yi ELSE 0 END) AS DOUBLE)
                       / 1000000000000.0 AS q0,
                   CAST(SUM(CASE WHEN variant = 1
                                 THEN CAST(yi AS HUGEINT) * yi ELSE 0 END) AS DOUBLE)
                       / 1000000000000.0 AS q1
            FROM adj
        )
        SELECT n0 AS n_control, n1 AS n_treatment,
               ROUND(s0 / n0, 6) AS mean_adj_control,
               ROUND(s1 / n1, 6) AS mean_adj_treatment,
               ROUND(theta, 6) AS theta,
               ROUND((s1 / n1 - s0 / n0)
                     / sqrt(((q0 - s0 * s0 / n0) / (n0 - 1)) / n0
                            + ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1), 6) AS z_score
        FROM v CROSS JOIN th
    """,
    tags=("ML-abtest",),
)
def ml_ab_test_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B test (Deng et al., WSDM'13 — the
    industry-standard experiment readout): per-user purchase revenue in
    a pre-period (Jan 1–15) is the covariate X, the post-period
    (Jan 16–30) is the metric Y, variant = user_id parity, and the
    adjusted metric Y′ = Y − θ·(X − μx) with θ = cov(X,Y)/var(X)
    pooled over all users removes the pre-existing between-user
    variance before the two-sample z.

    Determinism (policy §7.2, three precedents composed): X/Y are
    exact DECIMAL sums; θ and μx come from exact decimal co-moments
    through one fixed float expression (the stats_corr_pearson_exact
    discipline); each user's Y′ is ROUND(·,6) and scaled to integer
    micro-units so the per-variant sums and sums-of-squares are exact
    integer reductions (the stats_poisson_bootstrap_ci trick); the
    z denominator divides identically-derived doubles.

    100 TB posture: one scan builds the per-user frame (map-side
    combined), the 1-row moment/θ artifact broadcasts back, and the
    final conditional aggregation is a second pass over the persisted
    per-user frame — no window, no join by variant, no per-variant
    subquery; adding covariates (multi-variate CUPED) adds co-moment
    accumulators, not passes."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    val = F.col("value").cast("decimal(18,2)")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("ts") < cutoff, val)), F.lit(0)).alias("x"),
            F.coalesce(F.sum(F.when(F.col("ts") >= cutoff, val)), F.lit(0)).alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "x", "y"
        )
        .persist()
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    # try_divide (r12 nullmeasures): an all-equal or all-NULL pre-period
    # zeroes var(X) — theta is the defined NULL on both engines
    th = mom.select(
        "n",
        F.try_divide(
            nd * F.col("sxy") - F.col("sx") * F.col("sy"),
            nd * F.col("sxx") - F.col("sx") * F.col("sx"),
        ).alias("theta"),
        (F.col("sx") / nd).alias("mu_x"),
    )
    yi = (
        F.round(
            F.col("y").cast("double")
            - F.col("theta") * (F.col("x").cast("double") - F.col("mu_x")),
            6,
        )
        * 1000000
    ).cast("long")
    adj = per_user.crossJoin(F.broadcast(th)).select("variant", yi.alias("yi"), "theta")
    is0 = F.col("variant") == 0
    is1 = F.col("variant") == 1
    v = adj.agg(
        F.sum(F.when(is0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(is1, 1).otherwise(0)).cast("bigint").alias("n1"),
        (F.sum(F.when(is0, F.col("yi")).otherwise(0)).cast("double") / 1e6).alias("s0"),
        (F.sum(F.when(is1, F.col("yi")).otherwise(0)).cast("double") / 1e6).alias("s1"),
        (
            F.sum(
                F.when(is0, F.col("yi").cast("decimal(38,0)") * F.col("yi")).otherwise(0)
            ).cast("double")
            / 1e12
        ).alias("q0"),
        (
            F.sum(
                F.when(is1, F.col("yi").cast("decimal(38,0)") * F.col("yi")).otherwise(0)
            ).cast("double")
            / 1e12
        ).alias("q1"),
        F.first("theta").alias("theta"),
    )
    # try_divide (r12 nullmeasures): a missing or singleton arm zeroes
    # n or n−1 — the readout is the defined NULL on both engines
    m0 = F.try_divide(F.col("s0"), F.col("n0"))
    m1 = F.try_divide(F.col("s1"), F.col("n1"))
    var0 = F.try_divide(
        F.col("q0") - F.try_divide(F.col("s0") * F.col("s0"), F.col("n0")),
        F.col("n0") - 1,
    )
    var1 = F.try_divide(
        F.col("q1") - F.try_divide(F.col("s1") * F.col("s1"), F.col("n1")),
        F.col("n1") - 1,
    )
    return v.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        F.round(m0, 6).alias("mean_adj_control"),
        F.round(m1, 6).alias("mean_adj_treatment"),
        F.round(F.col("theta"), 6).alias("theta"),
        F.round(
            F.try_divide(
                m1 - m0,
                F.sqrt(
                    F.try_divide(var0, F.col("n0")) + F.try_divide(var1, F.col("n1"))
                ),
            ),
            6,
        ).alias("z_score"),
    )


#: Newton-iteration count for the logistic-regression key (fixed, so
#: the plan is static — the graph_pagerank_fixed contract)
LOGREG_ITERS = 3


def _logreg_oracle() -> str:
    """3 unrolled Newton steps in DuckDB CTEs — the _pca_oracle
    technique: each iteration's 1-row beta frame joins the persisted
    feature rows, per-row terms are ROUND(·,7) and summed as DECIMAL
    (order-free), the 2x2 solve and the re-rounded new beta are one
    fixed float expression shared with the Spark build."""
    head = """
        WITH feats AS (
            SELECT CAST(o_totalprice AS DOUBLE) / 100000 AS x,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
            FROM orders
        ),
        b0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1)
    """
    blocks = []
    prev = "b0"
    for i in range(1, LOGREG_ITERS + 1):
        blocks.append(f"""
        t{i} AS (
            SELECT y, x,
                   ROUND(1.0 / (1.0 + exp(-(c0 + c1 * x))), 7) AS mu
            FROM feats CROSS JOIN {prev}
        ),
        s{i} AS (
            SELECT CAST(SUM(CAST(ROUND(mu * (1 - mu), 7) AS DECIMAL(28,7)))
                        AS DOUBLE) AS s1,
                   CAST(SUM(CAST(ROUND(mu * (1 - mu) * x, 7) AS DECIMAL(28,7)))
                        AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ROUND(mu * (1 - mu) * x * x, 7) AS DECIMAL(28,7)))
                        AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y - mu AS DECIMAL(28,7))) AS DOUBLE) AS g0,
                   CAST(SUM(CAST(ROUND((y - mu) * x, 7) AS DECIMAL(28,7)))
                        AS DOUBLE) AS g1
            FROM t{i}
        ),
        b{i} AS (
            SELECT ROUND(c0 + (sxx * g0 - sx * g1)
                              / (s1 * sxx - sx * sx), 7) AS c0,
                   ROUND(c1 + (s1 * g1 - sx * g0)
                              / (s1 * sxx - sx * sx), 7) AS c1
            FROM {prev} CROSS JOIN s{i}
        )""")
        prev = f"b{i}"
    tail = f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MIN(c0), 6) AS beta0,
               ROUND(MIN(c1), 6) AS beta1,
               CAST(SUM(CASE WHEN (CASE WHEN ROUND(1.0 / (1.0 + exp(-(c0 + c1 * x))), 7)
                                        >= 0.5 THEN 1 ELSE 0 END) = y
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               ROUND(CAST(SUM(CASE WHEN (CASE WHEN ROUND(1.0 / (1.0 + exp(-(c0 + c1 * x))), 7)
                                               >= 0.5 THEN 1 ELSE 0 END) = y
                                   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                   AS accuracy
        FROM feats CROSS JOIN {prev}
    """
    return head + "," + ",".join(blocks) + tail


@register("ml_logreg_newton_exact", oracle=_logreg_oracle(), tags=("ML-logreg",))
def ml_logreg_newton_exact(spark, sf_dir):
    """Distributed logistic regression by {LOGREG_ITERS} fixed NEWTON
    steps (IRLS) — order-total predicting order finality — trained
    WITHOUT any ML library, collect, or driver-side gradient: per
    iteration, the 2-parameter model broadcasts as a 1-row frame, each
    row computes its weight/gradient terms in one projection, five
    sufficient statistics reduce with map-side combine, and the 2x2
    Newton solve is a closed-form expression on the 1-row result.

    Determinism (policy §7.2; the ml_pca_power_component trajectory
    discipline plus one new hazard): the logistic mu brings the first
    cross-engine TRANSCENDENTAL (exp) into an exact key, so mu is
    ROUND(·,7) immediately — coarse enough that a last-ulp exp()
    disagreement flips a rounding only with ~1e-9/row probability —
    and every cross-row sum adds 7-dp DECIMAL terms (order-free);
    beta re-rounds to 7 dp each step so both engines walk the same
    trajectory; the final report rounds 6 dp.

    100 TB posture: Newton/IRLS is THE scale shape for GLMs — each
    step is one scan of the persisted feature frame (persist keeps the
    3-iteration loop at a single source scan), shuffle traffic is five
    doubles per mapper, and the model state is O(p²) on the driver
    path regardless of row count; p features widen the per-row
    projection and the solve (p x p), not the pass count.

    Constructor builds as SQL text (r16, the similarity.dot rationale —
    guide §4's boundary lesson applied to the DRIVER): the 3-iteration
    Column-API loop cost ~0.45 s of py4j round trips per build, paid
    on every bench rep; one parsed string per projection keeps the
    same Catalyst trees (0.0D/0.5D are the double literals F.lit
    built, ROUND/CAST/CASE shapes identical — parity re-proven
    hash-exact at both SFs and the ten shapes)."""
    feats = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "CAST(o_totalprice AS DOUBLE) / 100000 AS x",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y",
        )
        .persist()
    )
    beta = spark.range(1).selectExpr("0.0D AS c0", "0.0D AS c1")
    mu_sql = "ROUND(1.0D / (1.0D + EXP(-(c0 + c1 * x))), 7)"
    dec = "DECIMAL(28,7)"
    for _ in range(LOGREG_ITERS):
        # r15 (guide §2.3/§2.4): the per-row projection carries only
        # y/x/mu — beta's scalars are NOT grouping keys (grouping by
        # two broadcast constants hashed them per row for nothing) and
        # re-attach via a 1-row crossJoin AFTER the reduce; global agg
        # with map-side combine, measured 0.995 → 0.752 s per pass at
        # sf0.1, five sums bit-identical.
        t = feats.crossJoin(F.broadcast(beta)).selectExpr(
            "y", "x", f"{mu_sql} AS mu"
        )
        s = t.agg(
            F.expr(f"CAST(SUM(CAST(ROUND(mu * (1 - mu), 7) AS {dec})) AS DOUBLE) AS s1"),
            F.expr(
                f"CAST(SUM(CAST(ROUND(mu * (1 - mu) * x, 7) AS {dec})) AS DOUBLE) AS sx"
            ),
            F.expr(
                f"CAST(SUM(CAST(ROUND(mu * (1 - mu) * x * x, 7) AS {dec})) AS DOUBLE)"
                " AS sxx"
            ),
            F.expr(f"CAST(SUM(CAST(y - mu AS {dec})) AS DOUBLE) AS g0"),
            F.expr(f"CAST(SUM(CAST(ROUND((y - mu) * x, 7) AS {dec})) AS DOUBLE) AS g1"),
        )
        det = "(s1 * sxx - sx * sx)"
        beta = s.crossJoin(F.broadcast(beta)).selectExpr(
            f"ROUND(c0 + (sxx * g0 - sx * g1) / {det}, 7) AS c0",
            f"ROUND(c1 + (s1 * g1 - sx * g0) / {det}, 7) AS c1",
        )
    pred = f"(CASE WHEN {mu_sql} >= 0.5D THEN 1 ELSE 0 END)"
    scored = feats.crossJoin(F.broadcast(beta))
    return scored.agg(
        F.expr("CAST(COUNT(1) AS BIGINT) AS n"),
        F.expr("ROUND(MIN(c0), 6) AS beta0"),
        F.expr("ROUND(MIN(c1), 6) AS beta1"),
        F.expr(
            f"CAST(SUM(CASE WHEN {pred} = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct"
        ),
        F.expr(
            f"ROUND(CAST(SUM(CASE WHEN {pred} = y THEN 1 ELSE 0 END) AS DOUBLE)"
            " / COUNT(1), 6) AS accuracy"
        ),
    )


#: ridge penalty for the closed-form key (intercept unpenalized)
RIDGE_LAMBDA = 10.0


def _det3(m) -> str:
    """Textual 3x3 determinant — generated once, used verbatim in BOTH
    engines so the float expression tree is identical."""
    a, b, c = m[0]
    d, e, f = m[1]
    g, h, i = m[2]
    return (
        f"(({a})*(({e})*({i})-({f})*({h}))"
        f" - ({b})*(({d})*({i})-({f})*({g}))"
        f" + ({c})*(({d})*({h})-({e})*({g})))"
    )


def _ridge_exprs() -> dict:
    """Cramer's-rule solve of (X'X + lambda*I')beta = X'y for
    [1, x1, x2] features with an unpenalized intercept, as SQL text
    over the moment columns nn/sx1/sx2/s11x/s12/s22x/sy/s1y/s2y."""
    A = [["nn", "sx1", "sx2"], ["sx1", "s11x", "s12"], ["sx2", "s12", "s22x"]]
    b = ["sy", "s1y", "s2y"]
    det = _det3(A)
    out = {"det": det}
    for k in range(3):
        Ak = [row[:] for row in A]
        for r in range(3):
            Ak[r][k] = b[r]
        out[f"beta{k}"] = f"({_det3(Ak)}) / ({det})"
    return out


@register(
    "ml_ridge_regression_exact",
    oracle=f"""
        WITH mom AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx1,
                   CAST(SUM(CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS sx2,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                            * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE)
                       + {RIDGE_LAMBDA!r} AS s11x,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                            * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE) AS s12,
                   CAST(SUM(CAST(l_discount AS DECIMAL(9,2))
                            * CAST(l_discount AS DECIMAL(9,2))) AS DOUBLE)
                       + {RIDGE_LAMBDA!r} AS s22x,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
                   CAST(SUM(CAST(l_discount AS DECIMAL(9,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y
            FROM lineitem
        )
        SELECT CAST(nn AS BIGINT) AS n,
               {RIDGE_LAMBDA!r} AS ridge_lambda,
               ROUND({_ridge_exprs()['beta0']}, 6) + 0.0 AS beta0,
               ROUND({_ridge_exprs()['beta1']}, 6) + 0.0 AS beta1,
               ROUND({_ridge_exprs()['beta2']}, 6) + 0.0 AS beta2
        FROM mom
    """,
    tags=("ML-ridge",),
)
def ml_ridge_regression_exact(spark, sf_dir):
    """Closed-form ridge regression (extended price on quantity and
    discount, intercept unpenalized) — the multi-feature companion to
    ``agg_regression_trend``: the 3x3 normal-equation system
    (X'X + lambda*I')beta = X'y is solved by CRAMER'S RULE whose
    determinant expressions are GENERATED ONCE as SQL text and
    evaluated verbatim in both engines, so every float multiply-add is
    the same tree.  The nine sufficient statistics are exact DECIMAL
    sums (2-dp inputs, 4-dp products — the stats_corr_pearson_exact
    discipline), making the whole key one map-side-combined
    aggregation plus a 1-row solve.

    100 TB posture: the textbook distributed GLM-by-normal-equations
    shape — one scan, p(p+3)/2 decimal accumulators in the shuffle, an
    O(p^3) driver-side-free solve as a projection; p beyond ~3 swaps
    Cramer for the iterative Newton key (ml_logreg_newton_exact shows
    that loop) or Cholesky in a pandas UDF on the 1-row frame."""
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(9,2)")
    dc = F.col("l_discount").cast("decimal(9,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    mom = l.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(q).cast("double").alias("sx1"),
        F.sum(dc).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        (F.sum(q * q).cast("double") + F.lit(RIDGE_LAMBDA)).alias("s11x"),
        F.sum(q * dc).cast("double").alias("s12"),
        (F.sum(dc * dc).cast("double") + F.lit(RIDGE_LAMBDA)).alias("s22x"),
        F.sum(q * y).cast("double").alias("s1y"),
        F.sum(dc * y).cast("double").alias("s2y"),
    )
    ex = _ridge_exprs()
    # `+ 0.0` (round-12 degenerate sweep): an all-equal design column
    # can land a coefficient on IEEE −0.0 in one engine and +0.0 in
    # the other; adding +0.0 canonicalizes the zero sign on BOTH sides
    # and changes no other value
    return mom.selectExpr(
        "CAST(nn AS BIGINT) AS n",
        f"{RIDGE_LAMBDA!r} AS ridge_lambda",
        f"ROUND({ex['beta0']}, 6) + 0.0 AS beta0",
        f"ROUND({ex['beta1']}, 6) + 0.0 AS beta1",
        f"ROUND({ex['beta2']}, 6) + 0.0 AS beta2",
    )


@register(
    "ml_decision_stump_scan",
    oracle="""
        WITH grid AS (SELECT thr FROM generate_series(50000, 450000, 50000) t(thr)),
        split AS (
            SELECT thr,
                   CAST(SUM(CASE WHEN o_totalprice <= thr THEN 1 ELSE 0 END) AS BIGINT) AS nl,
                   CAST(SUM(CASE WHEN o_totalprice <= thr
                                  AND o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) AS BIGINT) AS pl,
                   CAST(SUM(CASE WHEN o_totalprice > thr THEN 1 ELSE 0 END) AS BIGINT) AS nr,
                   CAST(SUM(CASE WHEN o_totalprice > thr
                                  AND o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) AS BIGINT) AS pr
            FROM orders CROSS JOIN grid
            GROUP BY thr
        )
        SELECT CAST(thr AS BIGINT) AS threshold, nl, pl, nr, pr,
               CASE WHEN nl = 0 OR nr = 0 THEN 0.0
                    ELSE (2.0 * pl * (nl - pl) / nl
                          + 2.0 * pr * (nr - pr) / nr) / (nl + nr)
               END AS gini_split
        FROM split
    """,
    tags=("I-ml",),
)
def ml_decision_stump_scan(spark, sf_dir):
    """Decision-stump split scan: weighted Gini impurity of the binary
    split "o_totalprice <= t" against the is-urgent label, for a fixed
    threshold grid — the histogram-based split finding GBDT/random-
    forest trainers run at scale, as ONE conditional aggregate: the
    grid cross-join multiplies rows only inside map-side combine (the
    shuffle carries |grid| groups of 4 counters), so the data passes
    once no matter how many candidate thresholds are scored.  Counts
    are exact; each gini value is one fixed float expression of four
    integers (2·p·(n−p)/n per side, normalized by n), zero-guarded for
    empty sides."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice", "o_orderpriority")
    grid = spark.range(1, 10).select((F.col("id") * 50000).alias("thr"))
    left = F.col("o_totalprice") <= F.col("thr")
    pos = F.col("o_orderpriority") == "1-URGENT"
    split = (
        o.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(left, 1).otherwise(0)).cast("bigint").alias("nl"),
            F.sum(F.when(left & pos, 1).otherwise(0)).cast("bigint").alias("pl"),
            F.sum(F.when(~left, 1).otherwise(0)).cast("bigint").alias("nr"),
            F.sum(F.when((~left) & pos, 1).otherwise(0)).cast("bigint").alias("pr"),
        )
    )
    gini = (
        F.lit(2.0) * F.col("pl") * (F.col("nl") - F.col("pl")) / F.col("nl")
        + F.lit(2.0) * F.col("pr") * (F.col("nr") - F.col("pr")) / F.col("nr")
    ) / (F.col("nl") + F.col("nr"))
    return split.select(
        F.col("thr").cast("bigint").alias("threshold"),
        "nl",
        "pl",
        "nr",
        "pr",
        F.when((F.col("nl") == 0) | (F.col("nr") == 0), F.lit(0.0))
        .otherwise(gini)
        .alias("gini_split"),
    )


#: distance thresholds for the PR grid — the label-0 centroid distances
#: concentrate near 1.0 on the fixture (probed at sf0.01), so the grid
#: brackets that mass; counts at each threshold are exact either way.
PR_THRESHOLDS = (0.95, 0.97, 0.99, 1.01, 1.03, 1.05)


@register(
    "ml_pr_threshold_grid",
    oracle=f"""
        WITH cent AS (
            SELECT i AS pos,
                   ROUND(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 9)
                                       AS DECIMAL(20,9))) AS DOUBLE) / COUNT(*), 6) AS cv
            FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
            WHERE label = 0
            GROUP BY i
        ),
        clist AS (SELECT list(cv ORDER BY pos) AS c FROM cent),
        scored AS (
            SELECT e.label = 0 AS is_pos,
                   ROUND(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               i -> (CAST(e.embedding[i] AS DOUBLE) - cl.c[i])
                                    * (CAST(e.embedding[i] AS DOUBLE) - cl.c[i]))),
                       (a, b) -> a + b), 9) AS d9
            FROM embeddings e CROSS JOIN clist cl
        ),
        grid AS (SELECT unnest([{", ".join(str(t) for t in PR_THRESHOLDS)}]) AS thr)
        SELECT thr,
               CAST(SUM(CASE WHEN d9 <= thr AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN d9 <= thr AND NOT is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN d9 > thr AND is_pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CASE WHEN SUM(CASE WHEN d9 <= thr THEN 1 ELSE 0 END) = 0 THEN 0.0
                    ELSE SUM(CASE WHEN d9 <= thr AND is_pos THEN 1 ELSE 0 END)
                         / CAST(SUM(CASE WHEN d9 <= thr THEN 1 ELSE 0 END) AS DOUBLE)
               END AS precision_,
               SUM(CASE WHEN d9 <= thr AND is_pos THEN 1 ELSE 0 END)
                   / CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE) AS recall_
        FROM scored CROSS JOIN grid
        GROUP BY thr
    """,
    tags=("ML-eval",),
)
def ml_pr_threshold_grid(spark, sf_dir):
    """Precision/recall across a distance-threshold grid for the
    "belongs to label 0" detector (distance to the label-0 centroid ≤
    t) — the operating-point sweep behind every PR curve, computed the
    ml_decision_stump_scan way: the grid multiplies rows only inside
    map-side combine, so the corpus is scored once and the shuffle
    carries |grid| groups of three counters.  Distances follow the
    ml_confusion_matrix determinism (9-dp rounded fold over 6-dp
    centroids); P and R are single divisions of exact counts,
    zero-guarded."""
    e = load_table(spark, sf_dir, "embeddings")
    cent_vec = _mean_vectors(
        e.where(F.col("label") == 0).select(F.posexplode(_dbl()).alias("pos0", "x"))
    )
    d2 = F.expr(sq_dist("transform(embedding, x -> CAST(x AS DOUBLE))", "c"))
    scored = e.crossJoin(F.broadcast(cent_vec)).select(
        (F.col("label") == 0).alias("is_pos"), F.round(d2, 9).alias("d9")
    )
    grid = spark.createDataFrame([(t,) for t in PR_THRESHOLDS], "thr double")
    hit = F.col("d9") <= F.col("thr")
    agg = (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit & F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(hit & ~F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("fp"),
            F.sum(F.when(~hit & F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("fn"),
        )
    )
    return agg.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0))
        .otherwise(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"))
        .alias("precision_"),
        # try_divide (round-12 degenerate sweep): zero positives zero
        # the recall denominator — defined NULL on both engines
        F.try_divide(F.col("tp"), (F.col("tp") + F.col("fn")).cast("double")).alias(
            "recall_"
        ),
    )


#: round-1 stump split (quantity <= 25), fixed by design: boosting's
#: sequential dependence is the point under test; an in-engine argmax
#: over gains at 1e17 magnitudes would reintroduce the wide-decimal
#: cast hazard policy.py documents for no analytical benefit.
GBDT_R1_THR = 25


@register(
    "ml_gbdt_residual_boost",
    oracle=f"""
        WITH leaf AS (
            SELECT CAST(SUM(CASE WHEN l_quantity <= {GBDT_R1_THR}
                          THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                       AS sl,
                   CAST(SUM(CASE WHEN l_quantity <= {GBDT_R1_THR} THEN 1 ELSE 0 END)
                        AS BIGINT) AS nl,
                   CAST(SUM(CASE WHEN l_quantity > {GBDT_R1_THR}
                          THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                       AS sr,
                   CAST(SUM(CASE WHEN l_quantity > {GBDT_R1_THR} THEN 1 ELSE 0 END)
                        AS BIGINT) AS nr
            FROM lineitem
        ),
        resid AS (
            SELECT l.l_quantity,
                   CAST(ROUND(l.l_extendedprice
                              - CASE WHEN l.l_quantity <= {GBDT_R1_THR}
                                     THEN f.sl / f.nl ELSE f.sr / f.nr END, 4)
                        AS DECIMAL(18,4)) AS r
            FROM lineitem l CROSS JOIN leaf f
        ),
        grid AS (SELECT thr FROM generate_series(5, 45, 5) t(thr)),
        split AS (
            SELECT CAST(thr AS BIGINT) AS threshold,
                   CAST(SUM(CASE WHEN l_quantity <= thr THEN 1 ELSE 0 END) AS BIGINT)
                       AS nl,
                   CAST(SUM(CASE WHEN l_quantity <= thr THEN r
                                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                       AS sum_res_l,
                   CAST(SUM(CASE WHEN l_quantity > thr THEN 1 ELSE 0 END) AS BIGINT)
                       AS nr,
                   CAST(SUM(CASE WHEN l_quantity > thr THEN r
                                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                       AS sum_res_r
            FROM resid CROSS JOIN grid
            GROUP BY thr
        )
        SELECT threshold, nl, sum_res_l, nr, sum_res_r,
               CASE WHEN nl = 0 OR nr = 0 THEN 0.0
                    ELSE ROUND(sum_res_l * sum_res_l / nl
                               + sum_res_r * sum_res_r / nr, 4)
               END AS round2_gain
        FROM split
    """,
    tags=("ML-boost",),
)
def ml_gbdt_residual_boost(spark, sf_dir):
    """Gradient-boosting mechanics, distributed and exact: round 1
    fits a fixed regression stump (quantity <= {GBDT_R1_THR} predicts
    mean price per side — two exact decimal sums, two IEEE divisions);
    residuals r = y − pred are ROUND(·,4)-ed into DECIMAL so every
    round-2 accumulation is order-free; round 2 then scores the full
    threshold grid ON THE RESIDUALS in one conditional aggregate,
    emitting per-threshold residual sums and the variance-gain proxy
    (Σr_L)²/n_L + (Σr_R)²/n_R — the sequential fit-on-residuals step
    that defines boosting, in the histogram-scan shape
    (ml_decision_stump_scan) that trains GBDTs at scale.  The gain is
    zero-guarded for empty sides (same guard as the stump scan), so
    the operator stays total on any filtered or re-pointed corpus,
    not just the 1..50 quantity domain that happens to fill the grid.

    Two passes over lineitem with a broadcast 1-row leaf model in
    between — the exact structure of one boosting iteration on a
    cluster; more rounds chain the same two steps."""
    l = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    left1 = F.col("l_quantity") <= GBDT_R1_THR
    zero2 = F.lit(0).cast("decimal(18,2)")
    leaf = l.agg(
        F.sum(F.when(left1, y).otherwise(zero2)).cast("double").alias("sl"),
        F.sum(F.when(left1, 1).otherwise(0)).cast("bigint").alias("nl1"),
        F.sum(F.when(~left1, y).otherwise(zero2)).cast("double").alias("sr"),
        F.sum(F.when(~left1, 1).otherwise(0)).cast("bigint").alias("nr1"),
    )
    pred = F.when(left1, F.col("sl") / F.col("nl1")).otherwise(
        F.col("sr") / F.col("nr1")
    )
    resid = l.crossJoin(F.broadcast(leaf)).select(
        "l_quantity",
        F.round(F.col("l_extendedprice") - pred, 4).cast("decimal(18,4)").alias("r"),
    )
    grid = spark.range(1, 10).select((F.col("id") * 5).alias("thr"))
    hit = F.col("l_quantity") <= F.col("thr")
    zero4 = F.lit(0).cast("decimal(18,4)")
    agg = (
        resid.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("nl"),
            F.sum(F.when(hit, F.col("r")).otherwise(zero4)).cast("double").alias("sum_res_l"),
            F.sum(F.when(~hit, 1).otherwise(0)).cast("bigint").alias("nr"),
            F.sum(F.when(~hit, F.col("r")).otherwise(zero4)).cast("double").alias("sum_res_r"),
        )
    )
    gain = (
        F.col("sum_res_l") * F.col("sum_res_l") / F.col("nl")
        + F.col("sum_res_r") * F.col("sum_res_r") / F.col("nr")
    )
    return agg.select(
        F.col("thr").cast("bigint").alias("threshold"),
        "nl",
        "sum_res_l",
        "nr",
        "sum_res_r",
        F.when((F.col("nl") == 0) | (F.col("nr") == 0), F.lit(0.0))
        .otherwise(F.round(gain, 4))
        .alias("round2_gain"),
    )


@register(
    "ml_covariate_balance_smd",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) > 0 AS treated,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS xc
            FROM events GROUP BY user_id
        ),
        strata AS (
            SELECT CASE WHEN n_events <= 5 THEN '01-5'
                        WHEN n_events <= 10 THEN '06-10'
                        WHEN n_events <= 20 THEN '11-20'
                        ELSE '21+' END AS stratum,
                   treated, xc
            FROM per_user
        ),
        m AS (
            SELECT stratum,
                   CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                   CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                   CAST(SUM(CASE WHEN treated THEN xc ELSE 0 END) AS BIGINT) AS st,
                   CAST(SUM(CASE WHEN NOT treated THEN xc ELSE 0 END) AS BIGINT) AS sc,
                   CAST(SUM(CASE WHEN treated THEN xc * xc ELSE 0 END) AS BIGINT) AS stt,
                   CAST(SUM(CASE WHEN NOT treated THEN xc * xc ELSE 0 END) AS BIGINT) AS scc
            FROM strata GROUP BY stratum
        )
        SELECT stratum, nt AS n_treated, nc AS n_control,
               LEAST(nt, nc) AS n_matchable,
               ROUND(CAST(st AS DOUBLE) / nt / 100, 6) AS mean_treated,
               ROUND(CAST(sc AS DOUBLE) / nc / 100, 6) AS mean_control,
               ROUND((CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc)
                     / sqrt(((CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / nt)
                                 / (nt - 1)
                             + (CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nc)
                                 / (nc - 1)) / 2), 6) AS smd
        FROM m
        WHERE nt > 1 AND nc > 1
    """,
    tags=("ML-causal",),
)
def ml_covariate_balance_smd(spark, sf_dir):
    """Covariate-balance diagnostics for observational comparisons —
    the table every matching/weighting analysis prints first: within
    activity strata, treated (any purchase) vs control users compared
    on total spend via the standardized mean difference
    (Δmean / pooled SD); |SMD| < 0.1 is the conventional balance bar,
    and LEAST(nT, nC) is the matchable-pair budget per stratum.
    Moments accumulate as exact BIGINT cents (the
    stats_ratio_delta_ci discipline); the SMD is one fixed float
    expression.  Two hash aggregates: user rollup, stratum rollup."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) > 0
        ).alias("treated"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(nan_to_null(F.round(F.col("value") * 100)).cast("bigint")).cast("bigint").alias("xc"),
    )
    stratum = (
        F.when(F.col("n_events") <= 5, "01-5")
        .when(F.col("n_events") <= 10, "06-10")
        .when(F.col("n_events") <= 20, "11-20")
        .otherwise("21+")
    )
    t = F.col("treated")
    m = per_user.select(stratum.alias("stratum"), "treated", "xc").groupBy("stratum").agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(t, F.col("xc")).otherwise(0)).cast("bigint").alias("st"),
        F.sum(F.when(~t, F.col("xc")).otherwise(0)).cast("bigint").alias("sc"),
        F.sum(F.when(t, F.col("xc") * F.col("xc")).otherwise(0)).cast("bigint").alias("stt"),
        F.sum(F.when(~t, F.col("xc") * F.col("xc")).otherwise(0)).cast("bigint").alias("scc"),
    )
    std = F.col("st").cast("double")
    scd = F.col("sc").cast("double")
    mt = std / F.col("nt")
    mc = scd / F.col("nc")
    pooled = F.sqrt(
        (
            (F.col("stt").cast("double") - std * F.col("st") / F.col("nt"))
            / (F.col("nt") - 1)
            + (F.col("scc").cast("double") - scd * F.col("sc") / F.col("nc"))
            / (F.col("nc") - 1)
        )
        / 2
    )
    return m.where((F.col("nt") > 1) & (F.col("nc") > 1)).select(
        "stratum",
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        F.least(F.col("nt"), F.col("nc")).alias("n_matchable"),
        F.round(mt / 100, 6).alias("mean_treated"),
        F.round(mc / 100, 6).alias("mean_control"),
        F.round((mt - mc) / pooled, 6).alias("smd"),
    )


@register(
    "ml_silhouette_labels",
    oracle=f"""
        WITH vecs AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        dists AS (
            SELECT a.vec_id AS i, a.label AS la, b.label AS lb,
                   CAST(ROUND(sqrt(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, {EMB_DIM + 1}),
                               k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k]))),
                       (x, y) -> x + y)), 9) AS DECIMAL(20,9)) AS d
            FROM vecs a JOIN vecs b ON a.vec_id <> b.vec_id
        ),
        per_group AS (
            SELECT i, la, lb,
                   CAST(SUM(d) AS DOUBLE) / COUNT(*) AS mean_d
            FROM dists GROUP BY i, la, lb
        ),
        ab AS (
            SELECT i, la,
                   MAX(CASE WHEN lb = la THEN mean_d END) AS a_own,
                   MIN(CASE WHEN lb <> la THEN mean_d END) AS b_other
            FROM per_group GROUP BY i, la
        )
        SELECT la AS label,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(SUM(CAST(ROUND((b_other - a_own)
                                   / GREATEST(a_own, b_other), 6)
                             AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*)
                   AS mean_silhouette
        FROM ab GROUP BY la
    """,
    tags=("ML-cluster-eval",),
)
def ml_silhouette_labels(spark, sf_dir):
    """Silhouette analysis of the label clustering — "how separable
    are the classes in embedding space": per point, a = mean distance
    to its own label, b = the closest other label's mean distance,
    s = (b−a)/max(a,b); reported as per-label mean silhouette.  The
    clustering-quality gate that decides whether labels are usable as
    supervision.  Determinism: per-pair distances are sequential folds
    ROUND(·,9)-ed into DECIMAL before the per-(point, label) mean (an
    order-free exact sum / exact count); per-point s is one fixed
    float expression; the per-label mean goes round-then-decimal at
    magnitude ≤ 1.

    Scale: the pair scan is |corpus| × |corpus| brute force at fixture
    size; at real scale the same shape runs per centroid-blocked
    neighborhood (the SemDeDup blocking) — the reduction layout is
    unchanged."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    d2 = F.expr(sq_dist("a.v", "b.v"))
    dists = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("i"),
        F.col("a.label").alias("la"),
        F.col("b.label").alias("lb"),
        F.round(F.sqrt(d2), 9).cast("decimal(20,9)").alias("d"),
    )
    per_group = dists.groupBy("i", "la", "lb").agg(
        (F.sum("d").cast("double") / F.count(F.lit(1))).alias("mean_d")
    )
    ab = per_group.groupBy("i", "la").agg(
        F.max(F.when(F.col("lb") == F.col("la"), F.col("mean_d"))).alias("a_own"),
        F.min(F.when(F.col("lb") != F.col("la"), F.col("mean_d"))).alias("b_other"),
    )
    s = F.round(
        (F.col("b_other") - F.col("a_own"))
        / F.greatest(F.col("a_own"), F.col("b_other")),
        6,
    ).cast("decimal(12,6)")
    return ab.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (F.sum(s).cast("double") / F.count(F.lit(1))).alias("mean_silhouette"),
    )


#: k-means++ seed count
KPP_K = 4


def _kpp_dist(a: str, b: str) -> str:
    """Symbolic squared distance between two DuckDB float lists — the
    ml_confusion_matrix fold (prepend-0 left fold, so the addition
    order matches Spark's aggregate())."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {EMB_DIM + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x, y) -> x + y)"
    )


def _kpp_oracle() -> str:
    stages = [
        "base AS (SELECT vec_id, embedding FROM embeddings)",
        "c1 AS (SELECT vec_id, embedding FROM base ORDER BY vec_id LIMIT 1)",
        f"""d1 AS (
            SELECT b.vec_id, b.embedding,
                   ROUND({_kpp_dist('b.embedding', 'c.embedding')}, 9) AS dmin
            FROM base b CROSS JOIN c1 c
        )""",
    ]
    for k in range(2, KPP_K + 1):
        stages.append(
            f"""c{k} AS (
                SELECT vec_id, embedding, dmin FROM d{k - 1}
                ORDER BY dmin DESC, vec_id LIMIT 1
            )"""
        )
        if k < KPP_K:
            stages.append(
                f"""d{k} AS (
                    SELECT d.vec_id, d.embedding,
                           LEAST(d.dmin,
                                 ROUND({_kpp_dist('d.embedding', 'c.embedding')}, 9))
                               AS dmin
                    FROM d{k - 1} d CROSS JOIN c{k} c
                )"""
            )
    selects = ["SELECT CAST(1 AS BIGINT) AS seed_rank, vec_id, 0.0 AS d2_at_pick FROM c1"]
    for k in range(2, KPP_K + 1):
        selects.append(
            f"SELECT CAST({k} AS BIGINT), vec_id, ROUND(dmin, 6) FROM c{k}"
        )
    return "WITH " + ",\n".join(stages) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "ml_kmeans_pp_seeding",
    oracle=_kpp_oracle(),
    tags=("ML-kmeans",),
)
def ml_kmeans_pp_seeding(spark, sf_dir):
    """Deterministic k-means++ seeding ({KPP_K} seeds): seed 1 is the
    lowest vec_id; each next seed is the FARTHEST point from the
    chosen set (the argmax-d² variant of k-means++ — greedy farthest-
    point traversal, public literature), with distances rounded 9 dp
    before the argmax and ties broken by vec_id, so the selection is
    bit-deterministic in both engines.  ml_kmeans_lloyd_exact consumes
    seeds exactly like these; together they are the full distributed
    k-means pipeline.

    100 TB posture: K−1 passes over the corpus, each ONE broadcast of
    the newly chosen 1-row center + a running elementwise LEAST of the
    per-vector d² — the textbook scalable seeding (k-means∥ batches
    several picks per pass; same plan with a multi-row broadcast).
    The argmax is TakeOrderedAndProject, never a global sort."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def d2(vcol, ccol):
        return F.expr(
            sq_dist(
                f"transform({vcol}, x -> CAST(x AS DOUBLE))",
                f"transform({ccol}, x -> CAST(x AS DOUBLE))",
            )
        )

    c1 = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    cur = (
        e.crossJoin(F.broadcast(c1))
        .select(
            "vec_id",
            "embedding",
            F.round(d2("embedding", "cemb"), 9).alias("dmin"),
        )
        .persist()
    )
    picks = [
        c1.select(
            F.lit(1).cast("bigint").alias("seed_rank"),
            F.col("cid").alias("vec_id"),
            F.lit(0.0).alias("d2_at_pick"),
        )
    ]
    for k in range(2, KPP_K + 1):
        ck = cur.orderBy(F.col("dmin").desc(), "vec_id").limit(1).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            F.col("dmin").alias("cd"),
        )
        picks.append(
            ck.select(
                F.lit(k).cast("bigint").alias("seed_rank"),
                F.col("cid").alias("vec_id"),
                F.round(F.col("cd"), 6).alias("d2_at_pick"),
            )
        )
        if k < KPP_K:
            cur = (
                cur.crossJoin(F.broadcast(ck.select("cemb")))
                .select(
                    "vec_id",
                    "embedding",
                    F.least(
                        F.col("dmin"), F.round(d2("embedding", "cemb"), 9)
                    ).alias("dmin"),
                )
                .persist()
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


@register(
    "ml_linreg_normal_eq",
    oracle="""
        WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sx1,
                   CAST(SUM(CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
                   CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS s11,
                   CAST(SUM(CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS DECIMAL(38,0)) * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) AS s22,
                   CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE) AS s12,
                   CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS s1y,
                   CAST(SUM(CAST(CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS s2y,
                   CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0)) * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS syy
            FROM lineitem
        ),
        c AS (
            SELECT n,
                   s11 - sx1 * sx1 / n AS c11,
                   s22 - sx2 * sx2 / n AS c22,
                   s12 - sx1 * sx2 / n AS c12,
                   s1y - sx1 * sy / n AS c1y,
                   s2y - sx2 * sy / n AS c2y,
                   syy - sy * sy / n AS cyy,
                   sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
            FROM m
        ),
        b AS (
            SELECT n, cyy, c1y, c2y, mx1, mx2, my,
                   (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                   (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
            FROM c
        )
        SELECT n,
               ROUND((my - b1 * mx1 - b2 * mx2) / 100, 6) AS intercept_dollars,
               ROUND(b1 / 100, 6) AS coef_qty_dollars,
               ROUND(b2 / 100, 6) AS coef_disc_pt_dollars,
               ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
        FROM b
    """,
    tags=("ML-regression",),
)
def ml_linreg_normal_eq(spark, sf_dir):
    """Two-feature ordinary least squares by the closed-form normal
    equations: l_extendedprice ~ l_quantity + discount-percent,
    solved exactly from sufficient statistics — the distributed way
    to fit a small linear model (no gradient iterations, no driver
    collect; GLM-by-moments is also how Spark MLlib's
    WeightedLeastSquares normal-equation solver works internally).

    Exactness: price snaps to integer CENTS and discount to integer
    PERCENT before any product; all ten sufficient statistics (n, two
    first moments, y, and the six second moments) accumulate as
    DECIMAL(38,0) products of exact integers — order-free, no float
    enters until the single cast of each finished sum (Σy·y ≈ 1e14
    per row needs the decimal width at 100 TB row counts; int64 would
    overflow past ~9e4 rows of cents²).  The centered 2×2 Cramer
    solve, intercept, and R² are ONE fixed float expression of those
    ten numbers, identical in both engines, rounded once at 6 dp.

    100 TB posture: a single map-side-combined aggregation — ten
    accumulators riding one exchange to a 1-row frame; adding
    features grows the accumulator count quadratically but the scan
    count stays ONE (the normal-equation advantage over SGD at this
    scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = nan_to_null("l_quantity").cast("bigint")
    x2 = nan_to_null(F.round(F.col("l_discount") * 100, 0)).cast("bigint")
    y = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d(x1)).cast("double").alias("sx1"),
        F.sum(d(x2)).cast("double").alias("sx2"),
        F.sum(d(y)).cast("double").alias("sy"),
        F.sum(d(x1) * x1).cast("double").alias("s11"),
        F.sum(d(x2) * x2).cast("double").alias("s22"),
        F.sum(d(x1) * x2).cast("double").alias("s12"),
        F.sum(d(x1) * y).cast("double").alias("s1y"),
        F.sum(d(x2) * y).cast("double").alias("s2y"),
        F.sum(d(y) * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    sx1, sx2, sy = F.col("sx1"), F.col("sx2"), F.col("sy")
    c11 = F.col("s11") - sx1 * sx1 / n
    c22 = F.col("s22") - sx2 * sx2 / n
    c12 = F.col("s12") - sx1 * sx2 / n
    c1y = F.col("s1y") - sx1 * sy / n
    c2y = F.col("s2y") - sx2 * sy / n
    cyy = F.col("syy") - sy * sy / n
    # try_divide (round-12 degenerate sweep): a zero-variance design
    # matrix (single row / all-equal features) zeroes the determinant,
    # and constant y zeroes cyy — the fit is the defined NULL then
    det = c11 * c22 - c12 * c12
    b1 = F.try_divide(c1y * c22 - c2y * c12, det)
    b2 = F.try_divide(c2y * c11 - c1y * c12, det)
    return m.select(
        n,
        F.round((sy / n - b1 * sx1 / n - b2 * sx2 / n) / 100, 6).alias(
            "intercept_dollars"
        ),
        F.round(b1 / 100, 6).alias("coef_qty_dollars"),
        F.round(b2 / 100, 6).alias("coef_disc_pt_dollars"),
        F.round(F.try_divide(b1 * c1y + b2 * c2y, cyy), 6).alias("r2"),
    )


#: target-encoding smoothing prior weight (pseudo-observations)
TE_PRIOR_M = 20


@register(
    "ml_target_encoding_kfold",
    oracle=f"""
        WITH base AS (
            SELECT p_brand AS brand,
                   list_reduce(list_transform(list_filter(string_split_regex(
                       substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                  || CAST(l_linenumber AS VARCHAR) || ':te'),
                              1, 8), ''), c -> c <> ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, x) -> a * 16 + x) % 5 AS fold,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS y
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        bf AS (
            SELECT brand, fold,
                   CAST(COUNT(*) AS BIGINT) AS n_bf,
                   CAST(SUM(y) AS BIGINT) AS s_bf
            FROM base GROUP BY brand, fold
        ),
        b AS (
            SELECT brand,
                   CAST(SUM(n_bf) AS BIGINT) AS n_b,
                   CAST(SUM(s_bf) AS BIGINT) AS s_b
            FROM bf GROUP BY brand
        ),
        g AS (
            SELECT CAST(SUM(n_bf) AS BIGINT) AS n_g,
                   CAST(SUM(s_bf) AS BIGINT) AS s_g
            FROM bf
        )
        SELECT bf.brand, bf.fold, bf.n_bf AS n_in_fold,
               b.n_b - bf.n_bf AS n_out_of_fold,
               ROUND(CAST(b.s_b - bf.s_bf AS DOUBLE)
                     / (b.n_b - bf.n_bf) / 100, 6) AS oof_mean,
               ROUND((CAST(b.s_b - bf.s_bf AS DOUBLE) / 100
                      + {TE_PRIOR_M} * (CAST(s_g AS DOUBLE) / n_g / 100))
                     / (b.n_b - bf.n_bf + {TE_PRIOR_M}), 6)
                   AS encoding_smoothed
        FROM bf JOIN b USING (brand) CROSS JOIN g
        ORDER BY bf.brand, bf.fold
    """,
    tags=("ML-features",),
)
def ml_target_encoding_kfold(spark, sf_dir):
    """K-fold out-of-fold target encoding of p_brand against the
    l_extendedprice target — the leakage-safe categorical feature
    every tabular-ML pipeline builds at scale: a row in fold f gets
    its category encoded by the target mean computed WITHOUT fold f,
    shrunk toward the global mean with m=20 pseudo-counts
    (the Micci-Barreca smoothing).

    Fold assignment is the repo's engine-independent hash idiom —
    first 8 hex digits of md5(orderkey:linenumber:'te') as a 32-bit
    integer, mod 5 (the sample_balanced_downsample idiom) — so both
    engines (and any re-run at any partitioning) agree row-for-row.
    ADVICE r9: a single hex digit mod 5 (16 % 5 ≠ 0) gave fold 0 a
    4/16 share vs 3/16 for folds 1–4; 2³² % 5 = 1 leaves only a
    ~2⁻³² residual bias.

    Exactness: per-(brand, fold) counts and cent-sums are exact
    BIGINTs from ONE aggregation; out-of-fold sums are exact
    subtractions of the per-brand totals (no per-fold rescan — the
    complement trick, same as stats_bh_fdr); the two reported means
    are single float divisions rounded once.

    100 TB posture: part broadcasts into lineitem; ONE map-side-
    combined aggregation to |brands|·K cells; everything downstream
    is arithmetic on that broadcast-sized frame.  Applying the
    encoding to rows is then a broadcast join of this table on
    (brand, fold) — no shuffle of the fact side."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("l_linenumber").cast("string"),
                        F.lit(":te"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
    )
    y = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    bf = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .select(F.col("p_brand").alias("brand"), fold.alias("fold"), y.alias("y"))
        .groupBy("brand", "fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bf"),
            F.sum("y").cast("bigint").alias("s_bf"),
        )
        .persist()
    )
    b = bf.groupBy("brand").agg(
        F.sum("n_bf").cast("bigint").alias("n_b"),
        F.sum("s_bf").cast("bigint").alias("s_b"),
    )
    g = bf.agg(
        F.sum("n_bf").cast("bigint").alias("n_g"),
        F.sum("s_bf").cast("bigint").alias("s_g"),
    )
    oof_n = F.col("n_b") - F.col("n_bf")
    oof_s = (F.col("s_b") - F.col("s_bf")).cast("double")
    gmean = F.col("s_g").cast("double") / F.col("n_g") / 100
    return (
        bf.join(F.broadcast(b), "brand")
        .crossJoin(F.broadcast(g))
        .select(
            "brand",
            "fold",
            F.col("n_bf").alias("n_in_fold"),
            oof_n.alias("n_out_of_fold"),
            # try_divide (r12 nullmeasures): a brand living entirely in
            # one fold has an empty out-of-fold set — the raw OOF mean
            # is the defined NULL (the smoothed encoding stays defined:
            # its denominator carries the +m pseudo-counts)
            F.round(F.try_divide(oof_s, oof_n) / 100, 6).alias("oof_mean"),
            F.round(
                (oof_s / 100 + TE_PRIOR_M * gmean) / (oof_n + TE_PRIOR_M), 6
            ).alias("encoding_smoothed"),
        )
        .orderBy("brand", "fold")
    )


@register(
    "ml_isotonic_calibration_pava",
    oracle="""
        WITH b AS (
            SELECT CAST(l_quantity AS BIGINT) AS q,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS BIGINT) AS r
            FROM lineitem
            -- complete-case (r12; NaN added r13): an undefined quantity
            -- (NULL or IEEE NaN) is not a bucket
            WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
            GROUP BY 1
        ),
        c AS (
            SELECT q,
                   SUM(n) OVER (ORDER BY q) AS cn,
                   SUM(r) OVER (ORDER BY q) AS cr
            FROM b
        ),
        c0 AS (
            SELECT q, cn, cr FROM c
            UNION ALL SELECT 0 AS q, 0 AS cn, 0 AS cr
        ),
        iv AS (
            SELECT lo.q + 1 AS j, hi.q AS k,
                   CAST(ROUND(CAST(hi.cr - lo.cr AS DOUBLE)
                              / (hi.cn - lo.cn), 9) AS DECIMAL(18,9)) AS m
            FROM c0 lo JOIN c0 hi ON lo.q < hi.q
        ),
        inner_min AS (
            SELECT b.q, iv.j, MIN(iv.m) AS mn
            FROM b JOIN iv ON iv.j <= b.q AND iv.k >= b.q
            GROUP BY b.q, iv.j
        ),
        iso AS (
            SELECT q, CAST(MAX(mn) AS DOUBLE) AS iso_m
            FROM inner_min GROUP BY q
        )
        SELECT b.q AS quantity, b.n, b.r,
               ROUND(CAST(b.r AS DOUBLE) / b.n, 6) AS raw_rate,
               ROUND(iso.iso_m, 6) AS iso_rate
        FROM b JOIN iso ON iso.q = b.q
        ORDER BY b.q
    """,
    tags=("ML-calibration",),
)
def ml_isotonic_calibration_pava(spark, sf_dir):
    """Weighted isotonic regression of the return rate on quantity —
    the PAVA fit every probability-calibration stage (isotonic
    calibration of model scores) runs, computed NOT by the sequential
    pool-adjacent-violators sweep (inherently serial) but by its
    closed-form minimax characterization, which is pure relational
    algebra: iso(i) = max_{j≤i} min_{k≥i} weightedMean(y, j..k).

    Exactness: per-bucket (n, returns) are exact BIGINTs; interval
    means come from exact PREFIX-SUM differences (one bounded 50-row
    running sum, the c0 row anchoring j=1), rounded once to 9 dp into
    DECIMAL so the min/max lattice compares exact decimals; the
    result is provably the unique isotonic L2 fit (Barlow et al.
    1972, thm 1.4.4).

    100 TB posture: the data pass reduces map-side to ≤50 buckets;
    the interval frame is |buckets|²/2 ≈ 1275 rows and the
    point-coverage join ≈ 22k rows — driver-free closed-form PAVA on
    a broadcast-sized lattice.  A score with thousands of distinct
    values first quantile-buckets (ml_calibration_bins) to keep the
    lattice bounded — the standard practice for isotonic calibration
    at scale."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        # complete-case (r12; NaN added r13 — NaN passes isNotNull)
        F.col("l_quantity").isNotNull() & ~F.isnan("l_quantity")
    )
    b = (
        li.groupBy(nan_to_null("l_quantity").cast("bigint").alias("q"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("r"),
        )
        .persist()
    )
    wc = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    c = b.select("q", F.sum("n").over(wc).alias("cn"), F.sum("r").over(wc).alias("cr"))
    c0 = c.unionAll(
        b.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("q"),
            F.lit(0).cast("bigint").alias("cn"),
            F.lit(0).cast("bigint").alias("cr"),
        )
    )
    lo, hi = c0.alias("lo"), c0.alias("hi")
    iv = lo.join(hi, F.col("lo.q") < F.col("hi.q")).select(
        (F.col("lo.q") + 1).alias("j"),
        F.col("hi.q").alias("k"),
        F.round(
            (F.col("hi.cr") - F.col("lo.cr")).cast("double")
            / (F.col("hi.cn") - F.col("lo.cn")),
            9,
        )
        .cast("decimal(18,9)")
        .alias("m"),
    )
    inner_min = (
        b.select("q")
        .join(iv, (F.col("j") <= F.col("q")) & (F.col("k") >= F.col("q")))
        .groupBy("q", "j")
        .agg(F.min("m").alias("mn"))
    )
    iso = inner_min.groupBy("q").agg(F.max("mn").cast("double").alias("iso_m"))
    return (
        b.join(iso, "q")
        .select(
            F.col("q").alias("quantity"),
            "n",
            "r",
            F.round(F.col("r").cast("double") / F.col("n"), 6).alias("raw_rate"),
            F.round(F.col("iso_m"), 6).alias("iso_rate"),
        )
        .orderBy("quantity")
    )


#: ALS ridge regularizer
ALS_LAMBDA = 0.1


def _als_factor_sql(key: str, tag: str) -> str:
    """Pinned 2-d item factor component in DuckDB SQL: one md5 hex
    digit -> (2d-15)/30 in [-0.5, 0.5], exact DECIMAL(10,6)."""
    return (
        f"CAST(ROUND((2.0 * (instr('0123456789abcdef', "
        f"substr(md5(CAST({key} AS VARCHAR) || ':{tag}'), 1, 1)) - 1) - 15.0)"
        f" / 30.0, 6) AS DECIMAL(10,6))"
    )


@register(
    "ml_als_user_step",
    oracle=f"""
        WITH r AS (
            SELECT o_custkey AS user_id, l_partkey AS item,
                   CAST(l_quantity AS BIGINT) AS y
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        f AS (
            SELECT DISTINCT item,
                   {_als_factor_sql('item', 'f1')} AS f1,
                   {_als_factor_sql('item', 'f2')} AS f2
            FROM r
        ),
        m AS (
            SELECT r.user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(f.f1 * f.f1) AS DOUBLE) AS a11,
                   CAST(SUM(f.f1 * f.f2) AS DOUBLE) AS a12,
                   CAST(SUM(f.f2 * f.f2) AS DOUBLE) AS a22,
                   CAST(SUM(f.f1 * r.y) AS DOUBLE) AS b1,
                   CAST(SUM(f.f2 * r.y) AS DOUBLE) AS b2
            FROM r JOIN f USING (item)
            GROUP BY r.user_id
        )
        SELECT user_id, n_items,
               ROUND(((a22 + {ALS_LAMBDA}) * b1 - a12 * b2)
                     / ((a11 + {ALS_LAMBDA}) * (a22 + {ALS_LAMBDA})
                        - a12 * a12), 6) AS w1,
               ROUND(((a11 + {ALS_LAMBDA}) * b2 - a12 * b1)
                     / ((a11 + {ALS_LAMBDA}) * (a22 + {ALS_LAMBDA})
                        - a12 * a12), 6) AS w2
        FROM m
        ORDER BY user_id
    """,
    tags=("ML-als",),
)
def ml_als_user_step(spark, sf_dir):
    """ONE user-side half-step of alternating least squares for
    implicit matrix factorization: item factors held FIXED (pinned
    2-d vectors from md5 hex digits, the repo's engine-independent
    hash idiom), every user solves its own ridge system
    w_u = (XᵤᵀXᵤ + λI)⁻¹ Xᵤᵀyᵤ in closed form — exactly the update
    Spark MLlib's ALS runs per user per iteration, expressed as one
    aggregation plus per-row 2×2 Cramer arithmetic (no solver, no
    driver).  Ratings are order quantities on the customer×part
    matrix.

    Exactness: factor components are 6-dp decimals, so all five
    normal-equation moments are EXACT decimal sums (f·f scale-12
    products, f·y decimal×bigint) — float enters once per user in
    the fixed Cramer expression, rounded once.  λ=0.1 keeps the 2×2
    invertible even for single-item users.

    100 TB posture: the factor table derives from a hash — at scale
    it would be the previous iteration's item-factor table,
    broadcast (or bucket-joined when factors outgrow broadcast); one
    shuffle on user_id aggregates the five moments; the solve is
    embarrassingly parallel row arithmetic.  Full ALS = alternate
    this exact shape user↔item."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", nan_to_null("l_quantity").cast("bigint").alias("y")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    r = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item"), "y"
    )

    def factor(tag):
        d = F.conv(
            F.substring(
                F.md5(F.concat(F.col("item").cast("string"), F.lit(f":{tag}"))), 1, 1
            ),
            16,
            10,
        ).cast("bigint")
        return F.round((2.0 * d - 15.0) / 30.0, 6).cast("decimal(10,6)")

    f = r.select("item").distinct().select(
        "item", factor("f1").alias("f1"), factor("f2").alias("f2")
    )
    j = r.join(F.broadcast(f), "item")
    m = j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("f1") * F.col("f1")).cast("double").alias("a11"),
        F.sum(F.col("f1") * F.col("f2")).cast("double").alias("a12"),
        F.sum(F.col("f2") * F.col("f2")).cast("double").alias("a22"),
        F.sum(F.col("f1") * F.col("y")).cast("double").alias("b1"),
        F.sum(F.col("f2") * F.col("y")).cast("double").alias("b2"),
    )
    a11 = F.col("a11") + ALS_LAMBDA
    a22 = F.col("a22") + ALS_LAMBDA
    a12, b1, b2 = F.col("a12"), F.col("b1"), F.col("b2")
    det = a11 * a22 - a12 * a12
    return m.select(
        "user_id",
        "n_items",
        F.round((a22 * b1 - a12 * b2) / det, 6).alias("w1"),
        F.round((a11 * b2 - a12 * b1) / det, 6).alias("w2"),
    ).orderBy("user_id")


@register(
    "ml_feature_binning_woe",
    oracle="""
        WITH base AS (
            -- FLOOR division (r13 negmeasures): DuckDB's // TRUNCATES
            -- toward zero (-25//10 = -2) while the Spark side floors
            -- (floor(-2.5) = -3) — spell the floor so negative
            -- quantities bin identically; same value for positives
            SELECT CAST(FLOOR(CAST(l_quantity AS BIGINT) / 10.0) AS BIGINT) AS bin,
                   CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
            FROM lineitem
        ),
        b AS (
            SELECT bin,
                   CAST(SUM(1 - bad) AS BIGINT) AS n_good,
                   CAST(SUM(bad) AS BIGINT) AS n_bad
            FROM base GROUP BY bin
        ),
        t AS (
            SELECT CAST(SUM(n_good) AS BIGINT) AS tg,
                   CAST(SUM(n_bad) AS BIGINT) AS tb
            FROM b
        ),
        w AS (
            SELECT bin, n_good, n_bad,
                   -- NULLIF inside ln (r12 nullmeasures): a bin with
                   -- zero goods has ratio 0, where Spark's ln yields
                   -- NULL but DuckDB ERRORS — NULLIF pins both to the
                   -- defined NULL (the documented no-silent-+0.5 rule)
                   ROUND(ln(NULLIF((CAST(n_good AS DOUBLE) / tg)
                            / (CAST(n_bad AS DOUBLE) / tb), 0)), 6) AS woe,
                   CAST(ROUND((CAST(n_good AS DOUBLE) / tg
                               - CAST(n_bad AS DOUBLE) / tb)
                              * ln(NULLIF((CAST(n_good AS DOUBLE) / tg)
                                   / (CAST(n_bad AS DOUBLE) / tb), 0)), 9)
                        AS DECIMAL(18,9)) AS iv_term
            FROM b CROSS JOIN t
        )
        SELECT bin, n_good, n_bad, woe,
               CAST(iv_term AS DOUBLE) AS iv_term,
               ROUND(CAST(SUM(iv_term) OVER () AS DOUBLE), 6) AS iv_total
        FROM w
        ORDER BY bin
    """,
    tags=("ML-features",),
)
def ml_feature_binning_woe(spark, sf_dir):
    """Weight-of-Evidence binning with Information Value — the
    credit-scoring feature transform: per quantity decade-bin,
    WOE = ln((good_share)/(bad_share)) against the returned-line
    target, and IV = Σ(good% − bad%)·WOE grades the whole feature
    (rule of thumb: IV < 0.02 useless, > 0.3 strong).  WOE is what a
    scorecard model consumes instead of raw categories; the encoding
    table broadcast-joins back onto rows at apply time (the
    ml_target_encoding_kfold deployment shape).

    Exactness: bin counts are exact BIGINTs from ONE conditional
    aggregate (integer decade bins, no float thresholds); WOE and
    each IV term are fixed float expressions rounded once (IV terms
    to 9 dp into DECIMAL so the total is order-free); the IV total
    rides a whole-frame window over the ≤6-row bin table.

    100 TB posture: one map-side-combined pass to |bins| rows;
    everything else is arithmetic on that frame (the IV total is an
    aggregate of the bin frame broadcast back — no window, not even a
    bounded one).  Every bin is populated on the TPC-H quantity
    domain; empty-cell corpora take the standard +0.5 adjustment
    (documented, not silently applied — the stats_odds_ratio_ci
    rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    bad = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    b = (
        li.select(
            F.floor(nan_to_null("l_quantity").cast("bigint") / 10).cast("bigint").alias("bin"),
            bad.alias("bad"),
        )
        .groupBy("bin")
        .agg(
            F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
    )
    t = b.agg(
        F.sum("n_good").cast("bigint").alias("tg"),
        F.sum("n_bad").cast("bigint").alias("tb"),
    )
    # try_divide (round-12 degenerate sweep): a single-class corpus
    # zeroes one margin total — WOE/IV are the defined NULL then
    gs = F.try_divide(F.col("n_good").cast("double"), F.col("tg"))
    bs = F.try_divide(F.col("n_bad").cast("double"), F.col("tb"))
    w = b.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_good",
        "n_bad",
        F.round(F.log(F.try_divide(gs, bs)), 6).alias("woe"),
        F.round((gs - bs) * F.log(F.try_divide(gs, bs)), 9)
        .cast("decimal(18,9)")
        .alias("iv_term"),
    )
    iv = w.agg(F.round(F.sum("iv_term").cast("double"), 6).alias("iv_total"))
    return (
        w.crossJoin(F.broadcast(iv))
        .select(
            "bin",
            "n_good",
            "n_bad",
            "woe",
            F.col("iv_term").cast("double").alias("iv_term"),
            "iv_total",
        )
        .orderBy("bin")
    )


#: learning-curve sample fractions (per-mille to stay integer-exact)
LC_FRACS = (100, 250, 500, 1000)


def _lc_u_sql() -> str:
    return (
        "list_reduce(list_transform(list_filter(string_split_regex("
        "substr(md5(CAST(l_orderkey AS VARCHAR) || ':' "
        "|| CAST(l_linenumber AS VARCHAR) || ':lc'), 1, 8), ''), "
        "c -> c <> ''), c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)), "
        "(a, x) -> a * 16 + x)"
    )


@register(
    "ml_learning_curve_subsample",
    oracle=f"""
        WITH base AS (
            SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t,
                   CASE WHEN CAST(ROUND(l_discount * 100, 0) AS BIGINT) >= 6
                        THEN 1 ELSE 0 END AS p,
                   {_lc_u_sql()} AS h
            FROM lineitem
        ),
        grid AS (SELECT unnest([{', '.join(str(f) for f in LC_FRACS)}]) AS pm),
        cells AS (
            SELECT g.pm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(t * p) AS BIGINT) AS tp,
                   CAST(SUM((1 - t) * p) AS BIGINT) AS fp,
                   CAST(SUM(t * (1 - p)) AS BIGINT) AS fn,
                   CAST(SUM((1 - t) * (1 - p)) AS BIGINT) AS tn
            FROM base b JOIN grid g ON b.h * 1000 < g.pm * 4294967296
            GROUP BY g.pm
        )
        SELECT CAST(pm AS BIGINT) AS frac_permille, n, tp, fp, fn, tn,
               ROUND(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
               ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                     / (sqrt(CAST(tp + fp AS DOUBLE))
                        * sqrt(CAST(tp + fn AS DOUBLE))
                        * sqrt(CAST(tn + fp AS DOUBLE))
                        * sqrt(CAST(tn + fn AS DOUBLE))), 6) AS mcc
        FROM cells
        ORDER BY pm
    """,
    tags=("ML-eval",),
)
def ml_learning_curve_subsample(spark, sf_dir):
    """Learning-curve sweep: the ml_mcc_binary_gate metric evaluated
    on NESTED hash subsamples at 10% / 25% / 50% / 100% — the "is the
    metric stable yet, or do we need more eval data" diagnostic every
    large-scale evaluation runs before trusting a number.  Nested by
    construction (one uniform per row, thresholds compare against the
    SAME draw), so each curve point is a superset of the previous —
    the variance you see is sample-size, never re-draw noise.

    The row uniform is the repo's engine-independent idiom (first 8
    md5 hex digits as a 32-bit integer); the threshold compare is the
    EXACT integer cross-product h·1000 < pm·2³² — no float fraction,
    no boundary ambiguity.

    100 TB posture: ONE scan; the ×|grid| expansion is a broadcast
    join that collapses inside map-side combine (the stump-scan
    shape) — shuffle carries 4 counters × |grid| groups; metric
    arithmetic runs on the 4-row frame."""
    li = load_table(spark, sf_dir, "lineitem")
    t = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    p = F.when(nan_to_null(F.round(F.col("l_discount") * 100, 0)).cast("bigint") >= 6, 1).otherwise(0)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                    F.lit(":lc"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    base = li.select(t.alias("t"), p.alias("p"), h.alias("h"))
    grid = spark.createDataFrame([(f,) for f in LC_FRACS], "pm long")
    cells = (
        base.join(
            F.broadcast(grid), base["h"] * 1000 < F.col("pm") * 4294967296
        )
        .groupBy("pm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("t") * F.col("p")).cast("bigint").alias("tp"),
            F.sum((1 - F.col("t")) * F.col("p")).cast("bigint").alias("fp"),
            F.sum(F.col("t") * (1 - F.col("p"))).cast("bigint").alias("fn"),
            F.sum((1 - F.col("t")) * (1 - F.col("p"))).cast("bigint").alias("tn"),
        )
    )
    tp, fp, fn_, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    n = F.col("n")
    return cells.select(
        F.col("pm").cast("bigint").alias("frac_permille"),
        n,
        tp,
        fp,
        fn_,
        tn,
        F.round((tp + tn).cast("double") / n, 6).alias("accuracy"),
        # try_divide (round-12 degenerate sweep): an empty confusion
        # margin zeroes the MCC denominator — defined NULL then
        F.round(
            F.try_divide(
                tp.cast("double") * tn - fp.cast("double") * fn_,
                F.sqrt((tp + fp).cast("double"))
                * F.sqrt((tp + fn_).cast("double"))
                * F.sqrt((tn + fp).cast("double"))
                * F.sqrt((tn + fn_).cast("double")),
            ),
            6,
        ).alias("mcc"),
    ).orderBy("frac_permille")


#: fixed GMM-EM initialization (component, weight, mean, sigma)
GMM_INIT = ((1, 0.5, 10.0, 8.0), (2, 0.5, 40.0, 8.0))

#: Gaussian normalizer denominators, precomputed ONCE in Python and
#: injected as the SAME binary64 literal into both engines (ADVICE r9:
#: Spark's sigma*sqrt(2)*sqrt(pi) vs DuckDB's sigma*sqrt(2*pi()) could
#: differ by ~1 ulp and break hash parity at a 9-dp rounding tie).
_GMM_DENOM = {c[3]: c[3] * _math.sqrt(2.0 * _math.pi) for c in GMM_INIT}


def _gmm_phi_sql(mu: float, sigma: float) -> str:
    return (
        f"exp(-((CAST(q AS DOUBLE) - {mu!r}) * (CAST(q AS DOUBLE) - {mu!r}))"
        f" / (2.0 * {sigma!r} * {sigma!r})) / {_GMM_DENOM[sigma]!r}"
    )


@register(
    "ml_gmm_em_step_binned",
    oracle=f"""
        WITH b AS (
            SELECT CAST(l_quantity AS BIGINT) AS q,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY 1
        ),
        resp AS (
            SELECT q, n,
                   CAST(ROUND(
                       {GMM_INIT[0][1]!r} * ({_gmm_phi_sql(10.0, 8.0)})
                       / ({GMM_INIT[0][1]!r} * ({_gmm_phi_sql(10.0, 8.0)})
                          + {GMM_INIT[1][1]!r} * ({_gmm_phi_sql(40.0, 8.0)})), 9)
                       AS DECIMAL(18,9)) AS r1
            FROM b
        ),
        moments AS (
            -- integer factors fold FIRST into one (18,0)x(18,9)
            -- decimal multiply (round-12 degenerate sweep): the old
            -- chained n*r1*q*q hit the engines' DIFFERENT decimal
            -- precision-overflow scale reductions, drifting mu at the
            -- 6th dp on tiny corpora; (18,0)x(18,9) is exact in both
            SELECT
                CAST(SUM(n) AS BIGINT) AS nt,
                CAST(SUM(CAST(n AS DECIMAL(18,0)) * r1) AS DOUBLE) AS s1,
                CAST(SUM(CAST(n * q AS DECIMAL(18,0)) * r1) AS DOUBLE) AS sq1,
                CAST(SUM(CAST(n * q * q AS DECIMAL(18,0)) * r1) AS DOUBLE) AS sqq1,
                CAST(SUM(CAST(n AS DECIMAL(28,9)) * q) AS DOUBLE) AS sq,
                CAST(SUM(CAST(n AS DECIMAL(38,0)) * q * q) AS DOUBLE) AS sqq
            FROM resp
        ),
        comp AS (
            SELECT 1 AS component, s1 AS mass, sq1 AS wsum, sqq1 AS wsq, nt
            FROM moments
            UNION ALL
            SELECT 2, nt - s1, sq - sq1, sqq - sqq1, nt FROM moments
        )
        -- degenerate guards (round-12 sweep): a vanishing component's
        -- mass is pure 9-dp-rounding noise (≲1e-9), so wsum/mass is
        -- noise-over-noise and the two engines' decimal→double paths
        -- disagree in the last ulp; below the 1e-6 mass floor the
        -- component is EMPTY and mu/sigma are the defined NULL (the
        -- sign CASE additionally guards sqrt of 0⁻ cancellation,
        -- which DuckDB would ERROR on)
        SELECT component,
               ROUND(mass / nt, 6) AS weight_new,
               ROUND(CASE WHEN mass > 0.000001 THEN wsum / mass END, 6) AS mu_new,
               ROUND(CASE WHEN mass > 0.000001
                           AND wsq / mass - (wsum / mass) * (wsum / mass) >= 0
                          THEN sqrt(wsq / mass - (wsum / mass) * (wsum / mass))
                     END, 6) AS sigma_new
        FROM comp
        ORDER BY component
    """,
    tags=("ML-gmm",),
)
def ml_gmm_em_step_binned(spark, sf_dir):
    """One EM iteration for a 2-component 1-D Gaussian mixture on the
    quantity HISTOGRAM — soft-clustering's inner loop as relational
    algebra: the E-step computes each bin's responsibility under the
    fixed initialization (w=.5/.5, μ=10/40, σ=8/8), the M-step
    re-estimates weights, means and sigmas from responsibility-
    weighted moments.  Binned EM is how mixture fits run at corpus
    scale (bin once, iterate on the histogram — identical likelihood
    when values are integers, as quantity is).

    Exactness: the histogram is exact BIGINT; each bin's
    responsibility is ONE fixed float expression (exp/sqrt/π
    identical IEEE in both engines) rounded to 9 dp into DECIMAL, so
    component-2's moments are EXACT complements (n−r₁ mass, Σnq−Σ₁,
    Σnq²−Σ₁) — no second responsibility rounding to drift; M-step
    outputs are fixed float expressions rounded once.

    100 TB posture: the data pass collapses map-side to ≤50 bins;
    iterations touch only the histogram frame.  More components add
    responsibility columns, never passes."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.groupBy(nan_to_null("l_quantity").cast("bigint").alias("q")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    qd = F.col("q").cast("double")

    def phi(mu, sigma):
        # denominator is the SAME precomputed binary64 literal the oracle
        # embeds (_GMM_DENOM) — identical IEEE by construction (ADVICE r9)
        return F.exp(-((qd - mu) * (qd - mu)) / (2.0 * sigma * sigma)) / F.lit(
            _GMM_DENOM[sigma]
        )

    w1, mu1, s1_ = GMM_INIT[0][1], GMM_INIT[0][2], GMM_INIT[0][3]
    w2, mu2, s2_ = GMM_INIT[1][1], GMM_INIT[1][2], GMM_INIT[1][3]
    r1 = F.round(
        w1 * phi(mu1, s1_) / (w1 * phi(mu1, s1_) + w2 * phi(mu2, s2_)), 9
    ).cast("decimal(18,9)")
    resp = b.select("q", "n", r1.alias("r1"))
    # integer factors fold FIRST into one (18,0)x(18,9) decimal
    # multiply (round-12 degenerate sweep; see the oracle comment) —
    # the chained n*r1*q*q form hit Spark's decimal overflow scale
    # reduction and drifted mu at the 6th dp on tiny corpora
    m = resp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("n").cast("decimal(18,0)") * F.col("r1")).cast("double").alias("s1"),
        F.sum((F.col("n") * F.col("q")).cast("decimal(18,0)") * F.col("r1"))
        .cast("double")
        .alias("sq1"),
        F.sum((F.col("n") * F.col("q") * F.col("q")).cast("decimal(18,0)") * F.col("r1"))
        .cast("double")
        .alias("sqq1"),
        F.sum(F.col("n").cast("decimal(28,9)") * F.col("q")).cast("double").alias("sq"),
        F.sum(F.col("n").cast("decimal(38,0)") * F.col("q") * F.col("q"))
        .cast("double")
        .alias("sqq"),
    )
    c1 = m.select(
        F.lit(1).alias("component"),
        F.col("s1").alias("mass"),
        F.col("sq1").alias("wsum"),
        F.col("sqq1").alias("wsq"),
        "nt",
    )
    c2 = m.select(
        F.lit(2).alias("component"),
        (F.col("nt") - F.col("s1")).alias("mass"),
        (F.col("sq") - F.col("sq1")).alias("wsum"),
        (F.col("sqq") - F.col("sqq1")).alias("wsq"),
        "nt",
    )
    comp = c1.unionByName(c2)
    mass, wsum, wsq = F.col("mass"), F.col("wsum"), F.col("wsq")
    # degenerate-shape guards (round-12 sweep): a vanishing component's
    # mass is 9-dp rounding noise, so mu/sigma would be noise-over-noise
    # (engines disagree in the last ulp) — below the 1e-6 mass floor the
    # component is EMPTY and both statistics are the defined NULL; the
    # sign guard additionally covers sqrt of 0⁻ cancellation (the
    # oracle's CASEs mirror both, same literals)
    mu = F.when(mass > 1e-6, wsum / mass)
    rad = F.when(mass > 1e-6, wsq / mass - mu * mu)
    return comp.select(
        "component",
        F.round(mass / F.col("nt"), 6).alias("weight_new"),
        F.round(mu, 6).alias("mu_new"),
        F.round(F.when(rad >= 0, F.sqrt(rad)), 6).alias("sigma_new"),
    ).orderBy("component")


#: pinned unit-price for the fixed conformal base model (cents/qty) —
#: a deliberately crude rule; conformal wraps ANY fixed predictor
CONF_SLOPE_CENTS = 3_800_00


@register(
    "ml_conformal_split_interval",
    oracle=f"""
        WITH base AS (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS y,
                   CAST(l_quantity AS BIGINT) * {CONF_SLOPE_CENTS} AS yhat,
                   l_orderkey, l_linenumber,
                   (instr('0123456789abcdef',
                          substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                                     || CAST(l_linenumber AS VARCHAR)
                                     || ':conf'), 1, 1)) - 1) % 2 AS fold
            FROM lineitem
            -- complete-case (r12; NaN added r13): rows with an unknown
            -- target/feature (NULL or IEEE NaN) have no residual and
            -- score neither fold
            WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
              AND NOT isnan(l_extendedprice) AND NOT isnan(l_quantity)
        ),
        cal AS (
            SELECT ABS(y - yhat) AS r, l_orderkey, l_linenumber
            FROM base WHERE fold = 0
        ),
        n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal),
        ranked AS (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r, l_orderkey,
                                         l_linenumber) AS rk
            FROM cal
        ),
        qhat AS (
            -- global MIN-over-matching-rank instead of a WHERE-filtered
            -- row (round-12 degenerate sweep): the aggregate keeps qhat
            -- a one-row (possibly NULL) frame on an empty calibration
            -- fold, so the summary row survives empty corpora
            SELECT MIN(CASE WHEN rk = CAST(ceil(0.9 * (n + 1)) AS BIGINT)
                            THEN r END) AS q
            FROM ranked CROSS JOIN n_
        ),
        test AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN ABS(y - yhat) <= q.q
                                 THEN 1 ELSE 0 END) AS BIGINT) AS covered
            FROM base CROSS JOIN qhat q
            WHERE fold = 1
        )
        SELECT n_.n AS n_calibration, test.n_test,
               ROUND(CAST(q.q AS DOUBLE) / 100, 2) AS qhat_dollars,
               test.covered,
               ROUND(CAST(test.covered AS DOUBLE) / NULLIF(test.n_test, 0), 6)
                   AS coverage
        FROM n_ CROSS JOIN qhat q CROSS JOIN test
    """,
    tags=("ML-conformal",),
)
def ml_conformal_split_interval(spark, sf_dir):
    """Split-conformal prediction intervals (Vovk; Lei et al. 2018):
    hash-split the corpus 50/50, take the ⌈0.9(n+1)⌉-th order
    statistic of the CALIBRATION fold's absolute residuals under a
    FIXED base model (price ≈ $3 800·quantity — deliberately crude;
    conformal wraps any predictor), and the interval ŷ ± q̂ is
    guaranteed ≥90% coverage on exchangeable data REGARDLESS of how
    wrong the model is — verified here by scoring the held-out fold.
    This is the distribution-free uncertainty layer modern ML
    pipelines bolt onto point predictors.

    Exactness: residuals are exact integer cents (fixed integer
    slope); the conformal quantile is a LITERAL order statistic — the
    smallest residual value whose cumulative count reaches
    ⌈0.9(n+1)⌉, picked from the per-DISTINCT-residual frame via
    banded prefix counts (the agg_equidepth_histogram idiom — NO
    row-level rank window anywhere; the oracle keeps the naive
    single-window form and must agree exactly); the fold split is
    the repo's md5 idiom; coverage is an exact count ratio.

    100 TB posture: one scan feeds both folds (the fold flag is an
    expression); the calibration quantile costs one hash aggregate
    to the |distinct residuals| frame + the banded running count;
    the held-out pass is a broadcast-q̂ conditional aggregate."""
    from etl_builder_spark.operators.stats import banded_threshold_stats

    li = load_table(spark, sf_dir, "lineitem").where(
        # complete-case (r12; NaN added r13): no residual without a
        # DEFINED target and feature — NaN passes isNotNull
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & ~F.isnan("l_extendedprice")
        & ~F.isnan("l_quantity")
    )
    y = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    yhat = nan_to_null("l_quantity").cast("bigint") * CONF_SLOPE_CENTS
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("l_linenumber").cast("string"),
                        F.lit(":conf"),
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    # r15: the persisted frame carries only the three columns every
    # consumer reads — the line keys existed solely to feed the fold
    # hash and were cached dead weight (guide §2.3 narrower rows)
    base = li.select(
        y.alias("y"),
        yhat.alias("yhat"),
        fold.alias("fold"),
    ).persist()
    cal = base.where(F.col("fold") == 0).select(
        F.abs(F.col("y") - F.col("yhat")).alias("r")
    )
    per = cal.groupBy(F.col("r").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).persist()
    # r15: n_calibration = SUM(cnt) over the per-distinct-residual
    # frame — one aggregate over |distinct| rows instead of a second
    # full pass over the calibration fold (COUNT of the fold rows and
    # SUM of its per-value counts are the same BIGINT by definition);
    # COALESCE 0 because SUM over an EMPTY fold is NULL where COUNT
    # was 0 (caught by the empty/single/allequal shape sweep)
    n_df = per.agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n"))
    # r16 (guide §1.2 step 1): the quantile is a LOOKUP — only the one
    # band containing the ⌈0.9(n+1)⌉ crossing pays a window, instead of
    # materializing the prefix for every distinct residual and then
    # filtering (banded_threshold_stats; A/B 0.88 → 0.61 s on this
    # stage at sf0.1, value identical — counts are strictly positive,
    # so the running count is monotone and the crossing band unique)
    thresholds = n_df.select(
        F.ceil(0.9 * (F.col("n") + 1)).cast("bigint").alias("k")
    )
    qhat = banded_threshold_stats(
        per, value_col="v", sum_col="cnt", thresholds=thresholds
    ).agg(F.min("v_at").alias("q"))
    test = (
        base.where(F.col("fold") == 1)
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.abs(F.col("y") - F.col("yhat")) <= F.col("q"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        n_df.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            F.col("n").alias("n_calibration"),
            "n_test",
            F.round(F.col("q").cast("double") / 100, 2).alias("qhat_dollars"),
            "covered",
            F.round(
                F.col("covered").cast("double") / F.nullif(F.col("n_test"), F.lit(0)), 6
            ).alias("coverage"),
        )
    )
