"""Sketch aggregates (SURVEY.md §2 D13): HyperLogLog and Count-Min as
first-class mergeable aggregates — the 100 TB substitutes for exact
distinct/frequency when an estimate suffices. Sketches are binary,
mergeable across partitions and across time (e.g. daily sketch
parquet, unioned for any date range without re-scanning raw data).

Estimates are engine-specific by construction → the declared query is
rows-only (SURVEY §7.2.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


def hll_sketch(col: str | Column, lg_k: int = 12) -> Column:
    """Mergeable HLL sketch aggregate (Datasketches binary)."""
    return F.hll_sketch_agg(col, F.lit(lg_k))


def hll_estimate(sketch: Column) -> Column:
    return F.hll_sketch_estimate(sketch)


def hll_merge(sketch: Column) -> Column:
    """Union partial sketches (e.g. per-day) into one."""
    return F.hll_union_agg(sketch)


@register(
    "sketch_hll_users",
    oracle=None,  # HLL estimates differ across engines → rows-only
    tags=("D13",),
)
def sketch_hll_users(spark, sf_dir) -> DataFrame:
    """Per-type user sketches + a merged all-types estimate row —
    demonstrates the partial-sketch → union pattern that replaces
    global COUNT(DISTINCT) at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(hll_sketch("user_id").alias("sk"))
    per_type_est = per_type.select(
        "event_type", hll_estimate(F.col("sk")).alias("approx_users")
    )
    merged = per_type.agg(hll_merge(F.col("sk")).alias("sk")).select(
        F.lit("ALL").alias("event_type"), hll_estimate(F.col("sk")).alias("approx_users")
    )
    return per_type_est.unionByName(merged)


#: pinned universal-hash rows for the exact count-min twin: depth 4,
#: width 64, (a, b) constants shared literally with the oracle (the
#: dedup_minhash_exact discipline applied to frequency sketching).
CM_P = 1_000_000_007
CM_WIDTH = 64
CM_PERMS: tuple[tuple[int, int], ...] = ((31, 7), (131, 13), (571, 23), (1019, 41))


@register(
    "sketch_count_min_exact",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS n
            FROM toks WHERE token <> '' GROUP BY token
        ),
        hashed AS (
            SELECT token, n,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split_regex(token, ''), c -> c <> ''),
                           c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % {CM_P}) AS h
            FROM tf
        ),
        perms(d, a, b) AS (VALUES {", ".join(f"({d}, {a}, {b})" for d, (a, b) in enumerate(CM_PERMS))}),
        cells AS (
            SELECT d, (a * h + b) % {CM_P} % {CM_WIDTH} AS bucket,
                   CAST(SUM(n) AS BIGINT) AS counter
            FROM hashed CROSS JOIN perms
            GROUP BY 1, 2
        ),
        top20 AS (
            SELECT token, n, h FROM (
                SELECT token, n, h,
                       ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
                FROM hashed) WHERE r <= 20
        )
        SELECT t.token, t.n AS true_count,
               MIN(c.counter) AS cm_estimate,
               MIN(c.counter) - t.n AS overestimate
        FROM top20 t
        JOIN perms p ON TRUE
        JOIN cells c ON c.d = p.d
                    AND c.bucket = (p.a * t.h + p.b) % {CM_P} % {CM_WIDTH}
        GROUP BY t.token, t.n
    """,
    tags=("D13-exact",),
)
def sketch_count_min_exact(spark, sf_dir):
    """Count-Min sketching made hash-checkable — the exact counterpart
    of Spark's engine-specific count_min_sketch aggregate (the
    pinned-PQ-codebook move applied to frequency estimation): a
    depth-4 x width-64 CM table built RELATIONALLY with pinned
    universal hashes (counters = one (d, bucket) aggregate over token
    frequencies), then point queries for the 20 most frequent tokens
    return min-over-depth counters next to the true counts, so the
    canonical one-sided overestimate is visible and hash-verified.

    100 TB posture: the sketch build is a fixed 256-cell aggregate
    with map-side combine (this is WHY CM exists at scale); queries
    join a 20-row broadcast against those 256 cells.  One corpus
    tokenization feeds both the true counts and the sketch."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(fold_lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    codes = F.filter(
        F.transform(F.split("token", ""), lambda c: F.ascii(c).cast("long")),
        lambda x: x > 0,
    )
    h = F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: (a * 31 + x) % CM_P)
    hashed = tf.select("token", "n", h.alias("h")).persist()
    perms = spark.createDataFrame(
        [(dd, a, b) for dd, (a, b) in enumerate(CM_PERMS)], "d long, a long, b long"
    )
    cells = (
        hashed.crossJoin(F.broadcast(perms))
        .groupBy(
            "d",
            F.pmod(F.pmod(F.col("a") * F.col("h") + F.col("b"), F.lit(CM_P)), F.lit(CM_WIDTH)).alias("bucket"),
        )
        .agg(F.sum("n").cast("bigint").alias("counter"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n").desc(), "token")
    top20 = (
        hashed.select("token", "n", "h", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 20)
        .drop("r")
    )
    probe = top20.crossJoin(F.broadcast(perms)).select(
        "token",
        "n",
        "d",
        F.pmod(F.pmod(F.col("a") * F.col("h") + F.col("b"), F.lit(CM_P)), F.lit(CM_WIDTH)).alias("bucket"),
    )
    return (
        probe.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "n")
        .agg(F.min("counter").alias("cm_estimate"))
        .select(
            "token",
            F.col("n").alias("true_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).alias("overestimate"),
        )
    )


#: Bloom-filter twin geometry: 256 bits, the 4 pinned CM hash rows.
BLOOM_M = 256


@register(
    "sketch_bloom_exact",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        corpus AS (SELECT token FROM toks WHERE token <> ''),
        perms(d, a, b) AS (VALUES {", ".join(f"({d}, {a}, {b})" for d, (a, b) in enumerate(CM_PERMS))}),
        hashed AS (
            SELECT token,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split_regex(token, ''), c -> c <> ''),
                           c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % {CM_P}) AS h
            FROM corpus
        ),
        bits AS (
            SELECT DISTINCT d, (a * h + b) % {CM_P} % {BLOOM_M} AS bit
            FROM hashed CROSS JOIN perms
        ),
        probes AS (
            SELECT token, TRUE AS in_corpus FROM (
                SELECT token, ROW_NUMBER() OVER (ORDER BY token) AS r
                FROM corpus) WHERE r <= 10
            UNION ALL
            SELECT 'zz_probe_' || CAST(i AS VARCHAR) AS token, FALSE AS in_corpus
            FROM generate_series(0, 9) t(i)
        ),
        phash AS (
            SELECT token, in_corpus,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split_regex(token, ''), c -> c <> ''),
                           c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % {CM_P}) AS h
            FROM probes
        ),
        hits AS (
            SELECT p.token, p.in_corpus,
                   CAST(COUNT(bt.bit) AS BIGINT) AS n_set
            FROM phash p
            CROSS JOIN perms pe
            LEFT JOIN bits bt ON bt.d = pe.d
                             AND bt.bit = (pe.a * p.h + pe.b) % {CM_P} % {BLOOM_M}
            GROUP BY p.token, p.in_corpus
        )
        SELECT token, in_corpus,
               (n_set = {len(CM_PERMS)}) AS bloom_positive,
               ((n_set = {len(CM_PERMS)}) AND NOT in_corpus) AS is_false_positive
        FROM hits
    """,
    tags=("D13-exact",),
)
def sketch_bloom_exact(spark, sf_dir):
    """Bloom-filter membership made hash-checkable — the third sketch
    twin (HLL→exact distinct, CM→pinned counters, and now Bloom): a
    256-bit filter over the distinct corpus vocabulary built
    RELATIONALLY (per-depth set bits = one distinct aggregate with the
    pinned CM hash rows), probed with 10 known-member tokens and 10
    synthetic non-members; a probe is positive iff all 4 of its bits
    are set, so true membership, the Bloom verdict, and any false
    positives are all visible and hash-verified — no-false-negatives
    is checkable every round on real data.

    100 TB posture: the filter is a ≤1024-row (d, bit) table — the
    broadcast-able pre-filter big joins use; the build is one distinct
    aggregate with map-side combine over the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.select(F.explode(F.split(fold_lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
        .persist()
    )
    codes = F.filter(
        F.transform(F.split("token", ""), lambda c: F.ascii(c).cast("long")),
        lambda x: x > 0,
    )
    h = F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: (a * 31 + x) % CM_P)
    perms = spark.createDataFrame(
        [(dd, a, b) for dd, (a, b) in enumerate(CM_PERMS)], "d long, a long, b long"
    )
    bit = F.pmod(F.pmod(F.col("a") * F.col("h") + F.col("b"), F.lit(CM_P)), F.lit(BLOOM_M))
    bits = (
        corpus.select(h.alias("h"))
        .crossJoin(F.broadcast(perms))
        .select("d", bit.alias("bit"))
        .distinct()
        .persist()
    )
    from pyspark.sql import Window

    w = Window.orderBy("token")
    members = (
        corpus.select("token", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 10)
        .select("token", F.lit(True).alias("in_corpus"))
    )
    synth = spark.range(10).select(
        F.concat(F.lit("zz_probe_"), F.col("id").cast("string")).alias("token"),
        F.lit(False).alias("in_corpus"),
    )
    probes = members.unionByName(synth).select("token", "in_corpus", h.alias("h"))
    probe_bits = probes.crossJoin(F.broadcast(perms)).select(
        "token", "in_corpus", "d", bit.alias("bit")
    )
    hits = (
        probe_bits.join(F.broadcast(bits), ["d", "bit"], "left_semi")
        .groupBy("token", "in_corpus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_set"))
    )
    all_probes = probes.select("token", "in_corpus")
    k = len(CM_PERMS)
    return (
        all_probes.join(hits.select("token", "n_set"), "token", "left")
        .select(
            "token",
            "in_corpus",
            (F.coalesce(F.col("n_set"), F.lit(0)) == k).alias("bloom_positive"),
            (
                (F.coalesce(F.col("n_set"), F.lit(0)) == k) & ~F.col("in_corpus")
            ).alias("is_false_positive"),
        )
    )
