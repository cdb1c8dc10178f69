"""End-to-end training-data curation pipelines — the compositions the
engine exists for:

- ``pipeline_training_data``: quality gate → language filter → exact
  dedup → token accounting, as ONE Catalyst plan (filters fuse and
  push into the scan; the dedup shuffle is the only wide stage).
- ``pipeline_dedup_cascade``: the canonical three-stage dedup cascade
  (exact-normalized → MinHash near-dup → embedding semantic) with
  per-stage drop accounting — each stage catches what the previous
  one structurally cannot.

Declared exactly: every stage is relational/deterministic, so the full
compositions have faithful SQL oracles — the strongest end-to-end
check available.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower, fold_upper
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


@register(
    "pipeline_training_data",
    oracle="""
        WITH gated AS (
            SELECT doc_id, lang, source, n_chars, text,
                   lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS norm_text,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
            WHERE n_chars BETWEEN 50 AND 5000
              AND lang IN ('en', 'de', 'fr')
              AND len(string_split(text, ' ')) >= 5
        ),
        deduped AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_text ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
               COUNT(DISTINCT source) AS n_sources
        FROM deduped
        GROUP BY lang
    """,
    tags=("I-pipeline", "flagship-llm"),
)
def pipeline_training_data(spark, sf_dir):
    """Curate: length/quality gate + language allowlist + normalized
    exact-dedup (keep lowest doc_id) + per-language token accounting.
    At 100 TB: the gates are scan-fused predicates (zero extra passes),
    dedup is one hash shuffle on the normalized key, and the final
    accounting is a two-phase agg — three stages total."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    gated = (
        d.where(
            F.col("n_chars").between(50, 5000)
            & F.col("lang").isin("en", "de", "fr")
            & (n_tokens >= 5)
        )
        .withColumn("norm_text", fold_lower(F.trim(F.regexp_replace("text", " +", " "))))
        .withColumn("n_tokens", n_tokens)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("norm_text").orderBy("doc_id")
    deduped = gated.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


#: cascade fixture geometry: originals < 200; three disjoint plant
#: families exercise the three stages
CASCADE_SLICE = 200
CASCADE_EXACT_OFF = 10_000   # mangled copies of docs 0-49   → stage 1
CASCADE_NEAR_OFF = 20_000    # drop-2-word copies of 50-99   → stage 2
CASCADE_SEM_OFF = 30_000     # token-REVERSED copies of 100-149 with
#                              perturbed embeddings           → stage 3
#: MinHash component-match threshold for a stage-2 drop (of 16)
CASCADE_MIN_EQ = 8


def _cascade_oracle() -> str:
    from etl_builder_spark.llm.dedup import MINHASH_PERMS, _P
    from etl_builder_spark.llm.embed_dedup import (
        EMBED_DUP_TAU,
        PERTURB_DELTA,
        SEM_CENT_LO,
        SEM_N_CENT,
    )

    perm_vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))
    cos = (
        "ROUND(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
        WITH base AS (
            SELECT doc_id, text FROM documents WHERE doc_id < {CASCADE_SLICE}
        ),
        everything AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + {CASCADE_EXACT_OFF}, '  ' || upper(replace(text, chr(223), 'ss')) || ' '
            FROM base WHERE doc_id < 50
            UNION ALL
            SELECT doc_id + {CASCADE_NEAR_OFF},
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-2,1)],
                       ' ')
            FROM base WHERE doc_id BETWEEN 50 AND 99
            UNION ALL
            SELECT doc_id + {CASCADE_SEM_OFF},
                   array_to_string(list_reverse(string_split(text, ' ')), ' ')
            FROM base WHERE doc_id BETWEEN 100 AND 149
        ),
        normed AS (
            SELECT doc_id,
                   lower(trim(regexp_replace(text, ' +', ' ', 'g'))) AS text
            FROM everything
        ),
        surv1 AS (
            SELECT doc_id, text FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
                FROM normed
            ) WHERE rn = 1
        ),
        toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM surv1),
        shingles AS (
            SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+3], ' ') AS sh
            FROM toks, unnest(generate_series(0, len(toks)-3)) AS g(i)
            WHERE len(toks) >= 3
        ),
        sh_hash AS (
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split_regex(sh, ''), c -> c <> ''),
                           c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % {_P}) AS h
            FROM shingles
        ),
        perms(i, a, b) AS (VALUES {perm_vals}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_P}) AS minh
            FROM sh_hash CROSS JOIN perms GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, i // 4 AS band,
                   SUM((minh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                          WHEN 2 THEN 961 ELSE 29791 END) % {_P})
                       % {_P} AS bh
            FROM sig GROUP BY doc_id, band
        ),
        cand2 AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ),
        drops2 AS (
            SELECT DISTINCT id_b FROM (
                SELECT c.id_a, c.id_b
                FROM cand2 c
                JOIN sig sa ON sa.doc_id = c.id_a
                JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b
                HAVING SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END)
                       >= {CASCADE_MIN_EQ}
            )
        ),
        surv2 AS (
            SELECT doc_id FROM surv1 WHERE doc_id NOT IN (SELECT id_b FROM drops2)
        ),
        vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE vec_id < {CASCADE_SLICE}
        ),
        all_embs AS (
            SELECT vec_id, v FROM vecs
            UNION ALL
            SELECT vec_id + {CASCADE_SEM_OFF},
                   list_transform(v, x -> x + {PERTURB_DELTA})
            FROM vecs WHERE vec_id BETWEEN 100 AND 149
        ),
        cent AS (
            SELECT vec_id - {SEM_CENT_LO} AS cluster_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
            FROM embeddings
            WHERE vec_id BETWEEN {SEM_CENT_LO} AND {SEM_CENT_LO + SEM_N_CENT - 1}
        ),
        evec AS (
            SELECT s.doc_id, e.v FROM surv2 s JOIN all_embs e ON e.vec_id = s.doc_id
        ),
        asg AS (
            SELECT doc_id, v, cluster_id FROM (
                SELECT x.doc_id, x.v, c.cluster_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY x.doc_id
                           ORDER BY {cos.format(a="x.v", b="c.cv")} DESC, c.cluster_id
                       ) AS rn
                FROM evec x CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        drops3 AS (
            SELECT DISTINCT y.doc_id AS id_b
            FROM asg x JOIN asg y
              ON x.cluster_id = y.cluster_id AND x.doc_id < y.doc_id
            WHERE {cos.format(a="x.v", b="y.v")} >= {EMBED_DUP_TAU}
        ),
        surv3 AS (
            SELECT doc_id FROM surv2 WHERE doc_id NOT IN (SELECT id_b FROM drops3)
        ),
        counts AS (
            SELECT (SELECT COUNT(*) FROM everything) AS n0,
                   (SELECT COUNT(*) FROM surv1) AS n1,
                   (SELECT COUNT(*) FROM surv2) AS n2,
                   (SELECT COUNT(*) FROM surv3) AS n3
        )
        SELECT '1_exact' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM counts
        UNION ALL
        SELECT '2_minhash', n1, n1 - n2, n2 FROM counts
        UNION ALL
        SELECT '3_semantic', n2, n2 - n3, n3 FROM counts
    """


@register(
    "pipeline_dedup_cascade",
    oracle=_cascade_oracle(),
    tags=("I-pipeline", "I-dedup-cascade"),
)
def pipeline_dedup_cascade(spark, sf_dir):
    """The canonical three-stage dedup cascade with per-stage drop
    accounting — each stage catches what the previous one structurally
    cannot:

    1. **exact** (normalized text hash): byte-near copies — case,
       whitespace.  One hash shuffle.
    2. **minhash** (banded signatures, ≥``CASCADE_MIN_EQ``/16 matching
       components): edited copies sharing most shingles.  Band-bucket
       candidates only.
    3. **semantic** (pinned-centroid blocks, cosine ≥ τ): rewordings —
       the fixture's token-REVERSED texts share no 3-gram shingles
       (invisible to stages 1-2) but keep near-identical embeddings.
       Broadcast-centroid assignment, within-cluster pairs only.

    Drop policy per stage: the higher doc_id of every qualifying pair
    is dropped (deterministic, set-based — no iterative clustering).
    Fixture: three disjoint plant families target one stage each, so
    the accounting rows separate the stages' contributions.  100 TB
    posture: stages run cheapest-first so each pass shrinks the input
    of the costlier next pass; every stage is the already-bounded
    primitive (hash shuffle / band buckets / centroid blocks)."""
    from etl_builder_spark.llm.dedup import (
        _band_collisions,
        _minhash_sig_bands,
        _signature_agreement,
    )
    from etl_builder_spark.llm.embed_dedup import (
        EMBED_DUP_TAU,
        PERTURB_DELTA,
        SEM_CENT_LO,
        SEM_N_CENT,
    )
    from etl_builder_spark.llm.similarity import _dbl, dot, norm
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < CASCADE_SLICE).select(
        "doc_id", "text"
    )
    toks = F.split("text", " ")
    plants_exact = d.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + CASCADE_EXACT_OFF).alias("doc_id"),
        F.concat(F.lit("  "), fold_upper(F.col("text")), F.lit(" ")).alias("text"),
    )
    plants_near = d.where(F.col("doc_id").between(50, 99)).select(
        (F.col("doc_id") + CASCADE_NEAR_OFF).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1))), " "
        ).alias("text"),
    )
    plants_sem = d.where(F.col("doc_id").between(100, 149)).select(
        (F.col("doc_id") + CASCADE_SEM_OFF).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    everything = d.unionByName(plants_exact).unionByName(plants_near).unionByName(plants_sem)

    # stage 1: exact on normalized text, keep min doc_id
    normed = everything.select(
        "doc_id", fold_lower(F.trim(F.regexp_replace("text", " +", " "))).alias("text")
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    # Stage boundaries persist: each surv frame is referenced by the next
    # stage AND the final accounting (and surv1 additionally by the 16
    # minhash aggregates), so the lazy plan re-derives the full upstream
    # chain per reference — measured 88 document scans / 73 exchanges in
    # one executed plan at sf0.01.  Persisting the (id[, text]) stage
    # outputs — tiny by construction, they only shrink — collapses that
    # to one derivation per stage; at 100 TB these are the natural
    # inter-stage checkpoint tables of a curation pipeline.
    surv1 = normed.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select(
        "doc_id", "text"
    ).persist()

    # stage 2: banded MinHash, drop higher id of pairs with >= CASCADE_MIN_EQ
    # matching signature components
    sig, bands = _minhash_sig_bands(surv1)
    cand2 = (
        _band_collisions(bands)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    drops2 = (
        _signature_agreement(cand2, sig, ("id_a", "id_b"), "n_eq")
        .where(F.col("n_eq") >= CASCADE_MIN_EQ)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv2 = surv1.select("doc_id").join(drops2, "doc_id", "left_anti").persist()

    # stage 3: pinned-centroid semantic blocks, drop higher id of
    # within-cluster pairs with cosine >= tau
    e = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < CASCADE_SLICE).select(
        "vec_id", _dbl().alias("v")
    )
    all_embs = e.unionByName(
        e.where(F.col("vec_id").between(100, 149)).select(
            (F.col("vec_id") + CASCADE_SEM_OFF).alias("vec_id"),
            F.transform("v", lambda x: x + F.lit(PERTURB_DELTA)).alias("v"),
        )
    )
    cent = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").between(SEM_CENT_LO, SEM_CENT_LO + SEM_N_CENT - 1))
        .select((F.col("vec_id") - SEM_CENT_LO).alias("cluster_id"), _dbl().alias("cv"))
    )
    evec = surv2.join(all_embs, surv2["doc_id"] == all_embs["vec_id"]).select("doc_id", "v")
    # argmax as min(struct(-cos_r, cluster_id)) — map-side combine, no
    # row_number sort over the ×16 broadcast expansion (same shape as
    # dedup_semantic_centroids / sim_knn_ivf_exact; the pq_encode
    # lesson, VERDICT r4 item 4).
    # norms hoisted out of BOTH cosine pairings (similarity.norm —
    # bit-identical; r15): the ×16 assignment crossJoin pays one dot
    # per pair, and nv rides the persisted assignment so the
    # within-cluster pair fan-out — the hot loop — pays one dot per
    # pair instead of three folds.
    ev = evec.select("doc_id", "v", F.expr(norm("v")).alias("nv"))
    cn = cent.select("cluster_id", "cv", F.expr(norm("cv")).alias("ncv"))
    asg = (
        ev.crossJoin(F.broadcast(cn))
        .withColumn(
            "negc",
            -F.round(F.expr(f"{dot('v', 'cv')} / (nv * ncv)"), 6),
        )
        .groupBy("doc_id")
        .agg(
            F.min(F.struct(F.col("negc"), F.col("cluster_id"))).alias("b"),
            F.first("v").alias("v"),
            F.first("nv").alias("nv"),
        )
        .select("doc_id", "v", "nv", F.col("b.cluster_id").alias("cluster_id"))
    ).persist()
    x = asg.select(
        "cluster_id", F.col("doc_id").alias("id_a"), F.col("v").alias("xv"),
        F.col("nv").alias("nxv"),
    )
    y = asg.select(
        "cluster_id", F.col("doc_id").alias("id_b"), F.col("v").alias("yv"),
        F.col("nv").alias("nyv"),
    )
    drops3 = (
        x.join(y, "cluster_id")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(F.expr(f"{dot('xv', 'yv')} / (nxv * nyv)"), 6)
            >= EMBED_DUP_TAU
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    surv3 = surv2.join(drops3, "doc_id", "left_anti").persist()

    counts = (
        everything.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(surv1.agg(F.count(F.lit(1)).alias("n1")))
        .crossJoin(surv2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(surv3.agg(F.count(F.lit(1)).alias("n3")))
    )
    return counts.selectExpr(
        "stack(3,"
        " '1_exact',    n0, n0 - n1, n1,"
        " '2_minhash',  n1, n1 - n2, n2,"
        " '3_semantic', n2, n2 - n3, n3"
        ") AS (stage, n_in, n_dropped, n_out)"
    )


@register(
    "pipeline_curation_accounting",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang,
                   list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), t -> t <> '') AS toks,
                   replace(lower(text), 'i' || chr(775), 'i') AS norm
            FROM documents
        ),
        gated AS (
            SELECT doc_id, lang, norm, len(toks) AS n_tokens
            FROM (
                SELECT doc_id, lang, norm, toks,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
                           AS sum_len,
                       CAST(len(list_filter(toks,
                           t -> list_contains(['the','a','of','and','to','in','is'], t)))
                           AS BIGINT) AS n_stop
                FROM base
            )
            WHERE n_words BETWEEN 10 AND 500
              AND sum_len / CAST(n_words AS DOUBLE) BETWEEN 2 AND 12
              AND n_stop / CAST(n_words AS DOUBLE) >= 0.03
        ),
        unique_docs AS (
            SELECT lang, n_tokens FROM (
                SELECT lang, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY md5(norm)
                                          ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        ),
        raw AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_raw
                FROM documents GROUP BY lang),
        g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_gated
              FROM gated GROUP BY lang),
        u AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_unique,
                     CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_kept
              FROM unique_docs GROUP BY lang)
        SELECT r.lang, r.n_raw,
               COALESCE(g.n_gated, 0) AS n_gated,
               COALESCE(u.n_unique, 0) AS n_unique,
               COALESCE(u.n_tokens_kept, 0) AS n_tokens_kept,
               CAST((COALESCE(u.n_tokens_kept, 0) + 511) // 512 AS BIGINT)
                   AS n_shards_512
        FROM raw r
        LEFT JOIN g ON g.lang = r.lang
        LEFT JOIN u ON u.lang = r.lang
    """,
    tags=("I-pipeline",),
)
def pipeline_curation_accounting(spark, sf_dir):
    """End-to-end curation accounting per language — the loss ledger
    every training-data run publishes: raw docs → Gopher-rule gate
    (the text_gopher_quality_gate word-count / word-length / stopword
    rules, repetition rule excluded so the whole gate stays one
    expression-only pass) → exact normalized dedup (min-doc_id
    representative per md5 of the lowered text) → kept-token totals
    and 512-token shard counts.  Every stage is the registered
    operator's own construction, composed; every count is exact.

    100 TB posture: gate is expression-only in the scan; dedup is one
    window partitioned by content hash (bounded by duplicate-group
    size); the ledger is a per-lang rollup of three frames sharing one
    tokenization."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(fold_lower(F.col("text")), " "), lambda t: t != "")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is")])
    base = d.select(
        "doc_id",
        "lang",
        fold_lower("text").alias("norm"),
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
        .alias("sum_len"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        .cast("bigint")
        .alias("n_stop"),
    )
    # try_divide: a 0-token doc fails the n_words gate anyway, but the
    # generated predicate may evaluate the ratio subexpressions first
    # (extremetext shape) - NULL ratios fail the gate identically
    mean_wl = F.try_divide(F.col("sum_len"), F.col("n_words").cast("double"))
    stop_frac = F.try_divide(F.col("n_stop"), F.col("n_words").cast("double"))
    gated = base.where(
        F.col("n_words").between(10, 500)
        & (mean_wl >= 2)
        & (mean_wl <= 12)
        & (stop_frac >= 0.03)
    ).select("doc_id", "lang", "norm", F.col("n_words").alias("n_tokens")).persist()
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("norm")).orderBy("doc_id")
    unique_docs = (
        gated.select("lang", "n_tokens", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
    )
    raw = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_raw"))
    g = gated.groupBy(F.col("lang").alias("gl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gated")
    )
    u = unique_docs.groupBy(F.col("lang").alias("ul")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
    )
    out = (
        raw.join(F.broadcast(g), raw.lang == g.gl, "left")
        .join(F.broadcast(u), raw.lang == u.ul, "left")
    )
    kept = F.coalesce(F.col("n_tokens_kept"), F.lit(0))
    return out.select(
        "lang",
        "n_raw",
        F.coalesce(F.col("n_gated"), F.lit(0)).alias("n_gated"),
        F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
        kept.alias("n_tokens_kept"),
        F.expr("(coalesce(n_tokens_kept, 0) + 511) div 512")
        .cast("bigint")
        .alias("n_shards_512"),
    )


#: RAG context token budget
RAG_BUDGET = 128


@register(
    "pipeline_rag_context_budget",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, t AS token
            FROM documents, unnest(list_distinct(
                string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '))) AS u(t)
            WHERE t <> ''
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct
            FROM toks GROUP BY doc_id
        ),
        lens AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '),
                                        x -> x <> '')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        probes AS (SELECT doc_id AS probe_id FROM documents WHERE doc_id < 5),
        overlap AS (
            SELECT p.probe_id, c.doc_id AS cand_id,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM probes p
            JOIN toks pt ON pt.doc_id = p.probe_id
            JOIN toks c ON c.token = pt.token AND c.doc_id <> p.probe_id
            GROUP BY p.probe_id, c.doc_id
        ),
        scored AS (
            SELECT o.probe_id, o.cand_id,
                   ROUND(CAST(o.n_common AS DOUBLE)
                         / (sp.n_distinct + sc.n_distinct - o.n_common), 6)
                       AS jaccard
            FROM overlap o
            JOIN sizes sp ON sp.doc_id = o.probe_id
            JOIN sizes sc ON sc.doc_id = o.cand_id
        ),
        ranked AS (
            SELECT probe_id, cand_id, jaccard,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY jaccard DESC, cand_id) AS rnk
            FROM scored
        ),
        top3 AS (
            SELECT r.*, l.n_tokens,
                   SUM(l.n_tokens) OVER (PARTITION BY r.probe_id
                                         ORDER BY r.rnk) AS cum_tokens
            FROM ranked r JOIN lens l ON l.doc_id = r.cand_id
            WHERE r.rnk <= 3
        )
        SELECT probe_id,
               CAST(COUNT(*) AS BIGINT) AS n_retrieved,
               CAST(SUM(CASE WHEN cum_tokens <= {RAG_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_in_context,
               CAST(SUM(CASE WHEN cum_tokens <= {RAG_BUDGET}
                             THEN n_tokens ELSE 0 END) AS BIGINT)
                   AS context_tokens,
               CAST(MIN(CASE WHEN rnk = 1 THEN cand_id END) AS BIGINT)
                   AS top1_id,
               MAX(CASE WHEN rnk = 1 THEN jaccard END) AS top1_jaccard
        FROM top3
        GROUP BY probe_id
        ORDER BY probe_id
    """,
    tags=("I-rag",),
)
def pipeline_rag_context_budget(spark, sf_dir):
    """The RAG assembly pipeline end-to-end as one declarative plan:
    lexical retrieval (distinct-token Jaccard between each probe
    document and the corpus, top-3 per probe), then CONTEXT PACKING —
    retrieved docs enter the prompt in rank order while the running
    token total fits the 128-token budget — and the per-probe context
    census (docs retrieved vs docs that fit vs tokens used) that
    context-window tuning reads.  Composes the engine's existing
    primitives (token explode, candidate join, WindowGroupLimit
    top-k, bounded running sum = the pack_context_windows idiom) into
    the retrieval→budget→prompt shape every RAG service runs.

    Exactness: overlap counts, set sizes and token lengths are exact
    BIGINTs; Jaccard rounds once at 6 dp and ranks tie-pin on the
    candidate id; the budget cut is integer arithmetic on the
    ≤3-row-per-probe frame.

    100 TB posture: the candidate join keys on TOKEN (an inverted-
    index probe — cost bounded by posting-list sizes, never
    |probes|×|corpus|); per-probe windows are partitioned and the
    rank ≤ 3 plans as WindowGroupLimit; the packing window runs on
    ≤3 rows per probe.  Swap the lexical scorer for the IVF/PQ keys
    and the budget logic is unchanged."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(fold_lower(F.col("text")), " "))).alias(
                "token"
            ),
        )
        .where(F.col("token") != "")
        .persist()
    )
    sizes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct")
    )
    lens = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(fold_lower(F.col("text")), " "), lambda x: x != "")
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    probes = d.where(F.col("doc_id") < 5).select(F.col("doc_id").alias("probe_id"))
    pt = toks.join(F.broadcast(probes), toks["doc_id"] == probes["probe_id"]).select(
        "probe_id", F.col("token").alias("ptoken")
    )
    cand = toks.select(F.col("doc_id").alias("cand_id"), F.col("token").alias("ctoken"))
    overlap = (
        pt.join(
            cand,
            (pt["ptoken"] == cand["ctoken"]) & (cand["cand_id"] != pt["probe_id"]),
        )
        .groupBy("probe_id", "cand_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sp = sizes.select(F.col("doc_id").alias("probe_id"), F.col("n_distinct").alias("np"))
    sc = sizes.select(F.col("doc_id").alias("cand_id"), F.col("n_distinct").alias("nc"))
    scored = (
        overlap.join(F.broadcast(sp), "probe_id")
        .join(sc, "cand_id")
        .select(
            "probe_id",
            "cand_id",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("np") + F.col("nc") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    wr = Window.partitionBy("probe_id").orderBy(F.desc("jaccard"), "cand_id")
    ranked = scored.select(
        "probe_id", "cand_id", "jaccard", F.row_number().over(wr).alias("rnk")
    ).where(F.col("rnk") <= 3)
    wp = Window.partitionBy("probe_id").orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    top3 = ranked.join(
        lens.withColumnRenamed("doc_id", "cand_id"), "cand_id"
    ).select(
        "probe_id",
        "cand_id",
        "jaccard",
        "rnk",
        "n_tokens",
        F.sum("n_tokens").over(wp).alias("cum_tokens"),
    )
    return (
        top3.groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_retrieved"),
            F.sum(F.when(F.col("cum_tokens") <= RAG_BUDGET, 1).otherwise(0))
            .cast("bigint")
            .alias("n_in_context"),
            F.sum(
                F.when(F.col("cum_tokens") <= RAG_BUDGET, F.col("n_tokens")).otherwise(0)
            )
            .cast("bigint")
            .alias("context_tokens"),
            F.min(F.when(F.col("rnk") == 1, F.col("cand_id")))
            .cast("bigint")
            .alias("top1_id"),
            F.max(F.when(F.col("rnk") == 1, F.col("jaccard"))).alias("top1_jaccard"),
        )
        .orderBy("probe_id")
    )
