"""Blocked fuzzy matching (entity resolution) — the classic
dirty-duplicate recovery step of a data-integration pipeline.

The non-negotiable at scale is the BLOCKING: pairwise edit distance
over a crawl is O(n²), so candidates are generated only within blocks
(here: nation × a name-digit prefix), and the quadratic term is
bounded by the block size, never the corpus size.  The distance filter
(levenshtein ≤ 2) then runs on block-local candidate pairs only.

Fixture: customers unioned with a "dirty" copy (c_custkey+100000,
last name character replaced by 'X' — an OCR-style corruption with
guaranteed edit distance 1) — the matcher must recover every planted
pair while also surfacing genuine near-collisions (consecutive
custkeys differ by one digit).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower, nan_to_null
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

ER_OFFSET = 100_000


def _lev_pinned(a, b, threshold: int | None = None):
    """Cross-engine edit distance: Spark's levenshtein counts CODEPOINTS
    while DuckDB's counts BYTES (probed: levenshtein('café','cafe') = 1
    vs 2), so the distance tier is pinned to all-ASCII operand pairs --
    where the two definitions coincide -- and returns NULL otherwise
    (a NULL distance fails every <= 2 gate and scores as 'far' on both
    engines).  Real corpora names are pure ASCII, so this is the
    identity there; production non-ASCII names get transliterated
    upstream of the matcher.  SQL twin: _LEV_SQL.

    ``threshold``: every caller only consumes the distance through
    ``== 0`` / ``<= 2`` gates (or on rows already filtered to <= 2), so
    the BOUNDED form ``levenshtein(a, b, k)`` — which computes only the
    width-(2k+1) diagonal band of the DP matrix and returns -1 above k
    — yields identical results ~O(len/k)x cheaper per pair (guide §1.2
    step 2: per-task work on the blocked pair scan).  Contract under a
    threshold: exact distance in 0..k, -1 for "more than k", NULL for
    non-ASCII — callers translate ``d <= k`` as ``d >= 0`` and keep
    ``d == 0`` as-is (NULL fails both, same as the unbounded form)."""
    ascii_ok = (F.octet_length(a) == F.length(a)) & (
        F.octet_length(b) == F.length(b)
    )
    lev = F.levenshtein(a, b) if threshold is None else F.levenshtein(a, b, threshold)
    return F.when(ascii_ok, lev)


@register(
    "er_blocked_fuzzy_match",
    oracle=f"""
        WITH everything AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
            UNION ALL
            SELECT c_custkey + {ER_OFFSET} AS c_custkey,
                   substr(c_name, 1, length(c_name) - 1) || 'X' AS c_name,
                   c_nationkey
            FROM customer
        ),
        blocked AS (
            SELECT c_custkey, c_name, c_nationkey,
                   substr(c_name, 10, 7) AS block_key
            FROM everything
        )
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               a.c_name AS name_a, b.c_name AS name_b,
               CAST(CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END AS BIGINT) AS edit_dist
        FROM blocked a
        JOIN blocked b
          ON a.c_nationkey = b.c_nationkey
         AND a.block_key = b.block_key
         AND a.c_custkey < b.c_custkey
        WHERE CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END <= 2
    """,
    tags=("ER-fuzzy",),
)
def er_blocked_fuzzy_match(spark, sf_dir):
    """Blocked fuzzy match: candidates share (nation, name-digit-prefix)
    blocks; matches are block-local pairs at edit distance ≤ 2.

    100 TB shape: one shuffle on the block key; within-block pairing is
    quadratic ONLY in block size (bounded by the blocking design), and
    levenshtein runs JVM-side on candidates only.  Skewed blocks are
    the operational risk — monitor block cardinality and refine the
    key, exactly like production ER systems."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    dirty = c.select(
        (F.col("c_custkey") + ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring(F.col("c_name"), 1, F.length("c_name") - 1), F.lit("X")
        ).alias("c_name"),
        "c_nationkey",
    )
    blocked = c.unionByName(dirty).withColumn(
        "block_key", F.substring("c_name", 10, 7)
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    # bounded form (r15): only pairs with distance <= 2 survive, so the
    # banded DP is value-identical on every output row; -1 (">2") and
    # NULL (non-ASCII) both fail the >= 0 gate exactly as d <= 2 did
    lev = _lev_pinned(F.col("a.c_name"), F.col("b.c_name"), threshold=2)
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .where(lev >= 0)
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            lev.cast("bigint").alias("edit_dist"),
        )
    )


from etl_builder_spark.llm.dedup import PLANT_OFFSET as _PLANT_OFFSET


@register(
    "er_survivorship_merge",
    oracle=f"""
        WITH everything AS (
            SELECT doc_id, text, lang, source, n_chars FROM documents
            UNION ALL
            SELECT doc_id + {_PLANT_OFFSET} AS doc_id,
                   '  ' || upper(text) || ' ' AS text,
                   lang, source, n_chars
            FROM documents
        ),
        grouped AS (
            SELECT replace(lower(trim(regexp_replace(text, ' +', ' ', 'g'), ' ')), 'i' || chr(775), 'i') AS norm_text,
                   doc_id, text, lang, source, n_chars
            FROM everything
        )
        SELECT MIN(doc_id) AS survivor_id,
               COUNT(*) AS n_merged,
               MIN(lang) AS lang,
               MIN(source) AS source,
               MAX(n_chars) AS n_chars,
               CAST(substr(MAX(printf('%010d%010d', length(text), doc_id)), 11, 10)
                    AS BIGINT) AS longest_text_doc_id
        FROM grouped
        GROUP BY norm_text
        HAVING COUNT(*) > 1
    """,
    tags=("ER-survivorship",),
)
def er_survivorship_merge(spark, sf_dir):
    """Survivorship (golden-record merge) — after entity resolution
    groups duplicates, per-FIELD rules pick the surviving value: MIN
    id as the stable survivor key, MAX for completeness-style fields,
    and 'longest text wins' as an arg-max rule.  The arg-max rides a
    zero-padded '%010d%010d' (length, doc_id) string key — the same
    lexicographic≡tuple-order trick as ts_resample_ohlc, because
    DuckDB's arg_max rejects struct keys; the embedded doc_id makes
    ties deterministic.  Groups come from the planted-duplicate exact
    match (same fixture as dedup_exact_normalized); one hash aggregate
    on the group key carries every rule — adding survivorship rules
    costs expressions, not passes."""
    from etl_builder_spark.llm.dedup import _with_planted_dups

    d = load_table(spark, sf_dir, "documents")
    everything = _with_planted_dups(d)
    grouped = everything.select(
        fold_lower(F.trim(F.regexp_replace(F.col("text"), " +", " "))).alias("norm_text"),
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
    )
    argmax_key = F.format_string("%010d%010d", F.length("text"), F.col("doc_id"))
    return (
        grouped.groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("survivor_id"),
            F.count(F.lit(1)).alias("n_merged"),
            F.min("lang").alias("lang"),
            F.min("source").alias("source"),
            F.max("n_chars").alias("n_chars"),
            F.substring(F.max(argmax_key), 11, 10).cast("bigint").alias(
                "longest_text_doc_id"
            ),
        )
        .where(F.col("n_merged") > 1)
        .drop("norm_text")
    )


#: Fellegi–Sunter-style field agreement weights (log₂ m/u odds),
#: precomputed literals injected into both engines.  Values are
#: representative survey numbers, not fitted — the operator's shape,
#: not the calibration, is what scales.
FS_W_NAME_EXACT = 6.0
FS_W_NAME_CLOSE = 3.5   # edit distance 1-2
FS_W_NAME_FAR = -4.0
FS_W_NATION_AGREE = 1.5
FS_W_NATION_DISAGREE = -2.0
FS_W_BAL_AGREE = 2.0    # same acctbal band (floor /1000)
FS_W_BAL_DISAGREE = -0.5
FS_MATCH_T = 7.0
FS_POSSIBLE_T = 3.0


@register(
    "er_weighted_linkage",
    oracle=f"""
        WITH everything AS (
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
            FROM customer
            UNION ALL
            SELECT c_custkey + {ER_OFFSET},
                   substr(c_name, 1, length(c_name) - 1) || 'X',
                   c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
            FROM customer
        ),
        blocked AS (
            SELECT *, substr(c_name, 10, 8) AS block_key FROM everything
        ),
        pairs AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   CAST(CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END AS BIGINT) AS ed,
                   (a.c_nationkey = b.c_nationkey) AS nation_agree,
                   -- total flag (r12): unknown band = not agreeing
                   COALESCE(a.bal_band = b.bal_band, FALSE) AS bal_agree
            FROM blocked a JOIN blocked b
              ON a.block_key = b.block_key AND a.c_custkey < b.c_custkey
        ),
        scored AS (
            SELECT id_a, id_b, ed, nation_agree, bal_agree,
                   (CASE WHEN ed = 0 THEN {FS_W_NAME_EXACT!r}
                         WHEN ed <= 2 THEN {FS_W_NAME_CLOSE!r}
                         ELSE {FS_W_NAME_FAR!r} END
                    + CASE WHEN nation_agree THEN {FS_W_NATION_AGREE!r}
                           ELSE {FS_W_NATION_DISAGREE!r} END
                    + CASE WHEN bal_agree THEN {FS_W_BAL_AGREE!r}
                           ELSE {FS_W_BAL_DISAGREE!r} END) AS score
            FROM pairs
        )
        SELECT id_a, id_b, ed, nation_agree, bal_agree,
               ROUND(score, 6) AS score,
               CASE WHEN score >= {FS_MATCH_T!r} THEN 'match'
                    WHEN score >= {FS_POSSIBLE_T!r} THEN 'possible'
                    ELSE 'non_match' END AS decision
        FROM scored
        WHERE score >= {FS_POSSIBLE_T!r}
    """,
    tags=("ER-linkage",),
)
def er_weighted_linkage(spark, sf_dir):
    """Probabilistic record linkage, Fellegi–Sunter shape: candidate
    pairs from name-block joins are scored by SUMMED per-field
    log-odds agreement weights (exact/close/far name distance, nation
    agreement, account-balance band) and routed into
    match / possible / non-match decisions — the weighted-evidence
    upgrade over the single-field threshold matcher
    (er_blocked_fuzzy_match), which is how production linkage actually
    decides (one strong field can outvote one weak disagreement).
    Weights are injected literals (EM-fitting them is a driver-side
    loop over exactly this scored table); score arithmetic is a fixed
    chain of literal additions — identical IEEE on both engines.

    100 TB posture: identical candidate bound to the fuzzy matcher
    (block join, never all-pairs — note the deliberately WIDER blocks
    here: no nation equality in the block key, since nation is now
    evidence rather than a prefilter); scoring is expression-only on
    candidates; JVM levenshtein.  Skewed blocks (one surname owning
    millions of records) are the operational risk: the recipe is the
    chunked upper-triangle salting described under
    ``dedup_semantic_centroids`` (llm/embed_dedup.py), keyed by
    block_key, which bounds every task at ceiling² pairs with the same
    output as this naive theta-join.  The declared key
    keeps the naive shape, the SemDeDup precedent: this fixture is
    skew-free and the naive join is ~1.6× faster on it (measured
    2.2s vs 3.5s at sf0.1)."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        # nan_to_null (r13): Scala floor(NaN).toLong is silently 0 — a
        # phantom band-0 that the oracle's NULL band never joins
        F.floor(nan_to_null("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    dirty = base.select(
        (F.col("c_custkey") + ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring(F.col("c_name"), 1, F.length("c_name") - 1).cast("string"),
            F.lit("X"),
        ).alias("c_name"),
        "c_nationkey",
        "bal_band",
    )
    blocked = (
        base.unionByName(dirty)
        # 8-char block (digits 1-8 of the key): the corrupted LAST
        # character stays outside the block, so every planted pair is
        # co-blocked, while blocks stay ~10x smaller than the 7-char
        # form (measured 17.4s -> ~1.5s at sf0.1)
        .select("*", F.substring("c_name", 10, 8).alias("block_key"))
        .persist()
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("id_a"),
        F.col("b.c_custkey").alias("id_b"),
        # bounded at 2 (r15): ed is -1 for ">2" instead of the exact
        # far distance — safe because a far name scores FS_W_NAME_FAR
        # and maxes out at -4.0+1.5+2.0 = -0.5 < FS_POSSIBLE_T, so no
        # far pair ever reaches the output where ed is exposed
        _lev_pinned(F.col("a.c_name"), F.col("b.c_name"), threshold=2)
        .cast("bigint")
        .alias("ed"),
        (F.col("a.c_nationkey") == F.col("b.c_nationkey")).alias("nation_agree"),
        # total flag (r12 nullmeasures): an unknown balance band is not
        # agreement evidence — coalesce FALSE, never a NULL boolean
        F.coalesce(F.col("a.bal_band") == F.col("b.bal_band"), F.lit(False)).alias(
            "bal_agree"
        ),
    )
    name_w = (
        F.when(F.col("ed") == 0, F.lit(FS_W_NAME_EXACT))
        .when(F.col("ed") > 0, F.lit(FS_W_NAME_CLOSE))  # bounded: 1..2; -1/NULL fall through
        .otherwise(F.lit(FS_W_NAME_FAR))
    )
    nation_w = F.when(F.col("nation_agree"), F.lit(FS_W_NATION_AGREE)).otherwise(
        F.lit(FS_W_NATION_DISAGREE)
    )
    bal_w = F.when(F.col("bal_agree"), F.lit(FS_W_BAL_AGREE)).otherwise(
        F.lit(FS_W_BAL_DISAGREE)
    )
    score = name_w + nation_w + bal_w
    decision = (
        F.when(score >= FS_MATCH_T, "match")
        .when(score >= FS_POSSIBLE_T, "possible")
        .otherwise("non_match")
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            "ed",
            "nation_agree",
            "bal_agree",
            F.round(score, 6).alias("score"),
            decision.alias("decision"),
        )
        .where(F.col("score") >= FS_POSSIBLE_T)
    )


@register(
    "er_blocking_quality_report",
    oracle=f"""
        WITH slice_ AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE c_custkey < 500
        ),
        everything AS (
            SELECT c_custkey, c_name, c_nationkey FROM slice_
            UNION ALL
            SELECT c_custkey + {ER_OFFSET} AS c_custkey,
                   substr(c_name, 1, length(c_name) - 1) || 'X' AS c_name,
                   c_nationkey
            FROM slice_
        ),
        truth AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
            FROM everything a JOIN everything b ON a.c_custkey < b.c_custkey
            WHERE CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END <= 2
        ),
        blocked AS (
            SELECT c_custkey, c_name, c_nationkey,
                   substr(c_name, 10, 7) AS block_key
            FROM everything
        ),
        cand AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   (CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END <= 2) AS is_match
            FROM blocked a
            JOIN blocked b ON a.c_nationkey = b.c_nationkey
                          AND a.block_key = b.block_key
                          AND a.c_custkey < b.c_custkey
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
            (SELECT CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
             FROM cand) AS n_found,
            ROUND((SELECT SUM(CASE WHEN is_match THEN 1 ELSE 0 END) FROM cand)
                  / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall,
            ROUND((SELECT SUM(CASE WHEN is_match THEN 1 ELSE 0 END) FROM cand)
                  / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE), 6) AS precision_
    """,
    tags=("ER-audit",),
)
def er_blocking_quality_report(spark, sf_dir):
    """Blocking-quality audit — the report production ER systems run
    before trusting their blocking key: on a BOUNDED audit slice (500
    clean + 500 planted-dirty records), compare the (nation,
    name-prefix)-blocked candidate set against the all-pairs
    edit-distance ground truth and emit true-pair count, candidate
    count, found count, recall and precision.  The all-pairs join is
    the audit's cost by construction and stays fixed-size while the
    blocking under audit scales; er_blocked_fuzzy_match ships the
    production path this report certifies."""
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 500)
        .select("c_custkey", "c_name", "c_nationkey")
    )
    dirty = c.select(
        (F.col("c_custkey") + ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring(F.col("c_name"), 1, F.length("c_name") - 1), F.lit("X")
        ).alias("c_name"),
        "c_nationkey",
    )
    everything = c.unionByName(dirty).persist()
    a, b = everything.alias("a"), everything.alias("b")
    truth = (
        a.join(F.broadcast(b), F.col("a.c_custkey") < F.col("b.c_custkey"))
        # bounded form (r15): d <= 2 ⇔ bounded d >= 0 (-1 = ">2",
        # NULL = non-ASCII; both fail, exactly as before)
        .where(_lev_pinned(F.col("a.c_name"), F.col("b.c_name"), threshold=2) >= 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    )
    blocked = everything.withColumn("block_key", F.substring("c_name", 10, 7))
    ba, bb = blocked.alias("ba"), blocked.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.c_nationkey") == F.col("bb.c_nationkey"))
            & (F.col("ba.block_key") == F.col("bb.block_key"))
            & (F.col("ba.c_custkey") < F.col("bb.c_custkey")),
        )
        .select(
            (
                _lev_pinned(F.col("ba.c_name"), F.col("bb.c_name"), threshold=2) >= 0
            ).alias("is_match")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("is_match"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_found"),
        )
    )
    out = truth.crossJoin(F.broadcast(cand))
    return out.select(
        "n_true_pairs",
        "n_candidates",
        "n_found",
        F.round(F.col("n_found") / F.col("n_true_pairs").cast("double"), 6).alias(
            "recall"
        ),
        F.round(F.col("n_found") / F.col("n_candidates").cast("double"), 6).alias(
            "precision_"
        ),
    )


@register(
    "er_fellegi_sunter_em",
    oracle=f"""
        WITH everything AS (
            SELECT c_custkey, c_name, c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band
            FROM customer
            UNION ALL
            SELECT c_custkey + {ER_OFFSET},
                   substr(c_name, 1, length(c_name) - 1) || 'X',
                   c_nationkey,
                   CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
            FROM customer
        ),
        blocked AS (
            SELECT *, substr(c_name, 10, 8) AS block_key FROM everything
        ),
        pairs AS (
            SELECT CASE WHEN CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END <= 2
                        THEN 1 ELSE 0 END AS name_agree,
                   CASE WHEN a.c_nationkey = b.c_nationkey
                        THEN 1 ELSE 0 END AS nation_agree,
                   CASE WHEN a.bal_band = b.bal_band THEN 1 ELSE 0 END
                       AS bal_agree,
                   (CASE WHEN CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END = 0
                         THEN {FS_W_NAME_EXACT!r}
                         WHEN CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END <= 2
                         THEN {FS_W_NAME_CLOSE!r}
                         ELSE {FS_W_NAME_FAR!r} END
                    + CASE WHEN a.c_nationkey = b.c_nationkey
                           THEN {FS_W_NATION_AGREE!r}
                           ELSE {FS_W_NATION_DISAGREE!r} END
                    + CASE WHEN a.bal_band = b.bal_band
                           THEN {FS_W_BAL_AGREE!r}
                           ELSE {FS_W_BAL_DISAGREE!r} END) AS score
            FROM blocked a JOIN blocked b
              ON a.block_key = b.block_key AND a.c_custkey < b.c_custkey
        ),
        cls AS (
            SELECT name_agree, nation_agree, bal_agree,
                   CASE WHEN score >= {FS_MATCH_T!r} THEN 1 ELSE 0 END AS m
            FROM pairs
        ),
        counts AS (
            SELECT CAST(SUM(m) AS BIGINT) AS n_match,
                   CAST(SUM(1 - m) AS BIGINT) AS n_non,
                   CAST(SUM(m * name_agree) AS BIGINT) AS am_name,
                   CAST(SUM((1 - m) * name_agree) AS BIGINT) AS au_name,
                   CAST(SUM(m * nation_agree) AS BIGINT) AS am_nation,
                   CAST(SUM((1 - m) * nation_agree) AS BIGINT) AS au_nation,
                   CAST(SUM(m * bal_agree) AS BIGINT) AS am_bal,
                   CAST(SUM((1 - m) * bal_agree) AS BIGINT) AS au_bal
            FROM cls
        ),
        feat AS (
            SELECT 'name_close' AS feature, am_name AS am, au_name AS au,
                   n_match, n_non FROM counts
            UNION ALL
            SELECT 'nation', am_nation, au_nation, n_match, n_non FROM counts
            UNION ALL
            SELECT 'bal_band', am_bal, au_bal, n_match, n_non FROM counts
        )
        SELECT feature, n_match, n_non, am AS n_agree_match,
               au AS n_agree_non,
               ROUND((am + 0.5) / (n_match + 1.0), 6) AS m_hat,
               ROUND((au + 0.5) / (n_non + 1.0), 6) AS u_hat,
               ROUND(ln(((am + 0.5) / (n_match + 1.0))
                        / ((au + 0.5) / (n_non + 1.0))) / ln(2.0), 6) + 0.0
                   AS weight_agree_bits
        FROM feat
        ORDER BY feature
    """,
    tags=("ER-linkage",),
)
def er_fellegi_sunter_em(spark, sf_dir):
    """One distributed M-step of Fellegi–Sunter EM: hard-classify the
    er_weighted_linkage candidate pairs with the CURRENT weights
    (match ⇔ score ≥ 7), then re-estimate each feature's
    m̂ = P(agree | match) and û = P(agree | non-match) and the
    refreshed log₂ agreement weights — the update loop Splink et al.
    run until the weights stabilize, here as pure relational algebra
    (the docstring note on er_weighted_linkage promised this step;
    iterating = re-running this key with the new literals).
    Haldane +0.5/+1 smoothing keeps every estimate finite when a
    feature never (dis)agrees within a class.

    Exactness: the eight agreement×class counts are exact BIGINTs
    from ONE conditional aggregate over the same blocked pair frame;
    m̂/û/weights are fixed float expressions of those integers,
    rounded once.

    100 TB posture: identical candidate bound to the parent (block
    join, never all-pairs); the E-step adds NOTHING to the pair scan
    (classification is an expression), and the M-step reduces
    map-side to a 1-row frame unpivoted to 3 feature rows."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        # nan_to_null (r13): Scala floor(NaN).toLong is silently 0 — a
        # phantom band-0 that the oracle's NULL band never joins
        F.floor(nan_to_null("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    )
    dirty = base.select(
        (F.col("c_custkey") + ER_OFFSET).alias("c_custkey"),
        F.concat(
            F.substring(F.col("c_name"), 1, F.length("c_name") - 1), F.lit("X")
        ).alias("c_name"),
        "c_nationkey",
        "bal_band",
    )
    blocked = base.unionByName(dirty).withColumn(
        "block_key", F.substring("c_name", 10, 8)
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    # bounded at 2 (r15): ed is only consumed via == 0 / <= 2 gates, so
    # the banded DP is value-identical (d <= 2 ⇔ bounded d >= 0)
    ed = _lev_pinned(F.col("a.c_name"), F.col("b.c_name"), threshold=2)
    name_agree = F.when(ed >= 0, 1).otherwise(0)
    nation_agree = F.when(F.col("a.c_nationkey") == F.col("b.c_nationkey"), 1).otherwise(0)
    bal_agree = F.when(F.col("a.bal_band") == F.col("b.bal_band"), 1).otherwise(0)
    score = (
        F.when(ed == 0, FS_W_NAME_EXACT)
        .when(ed > 0, FS_W_NAME_CLOSE)  # bounded: 1..2; -1/NULL fall to FAR
        .otherwise(FS_W_NAME_FAR)
        + F.when(nation_agree == 1, FS_W_NATION_AGREE).otherwise(FS_W_NATION_DISAGREE)
        + F.when(bal_agree == 1, FS_W_BAL_AGREE).otherwise(FS_W_BAL_DISAGREE)
    )
    m = F.when(score >= FS_MATCH_T, 1).otherwise(0)
    pairs = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        name_agree.alias("name_agree"),
        nation_agree.alias("nation_agree"),
        bal_agree.alias("bal_agree"),
        m.alias("m"),
    )
    counts = pairs.agg(
        F.sum("m").cast("bigint").alias("n_match"),
        F.sum(1 - F.col("m")).cast("bigint").alias("n_non"),
        F.sum(F.col("m") * F.col("name_agree")).cast("bigint").alias("am_name"),
        F.sum((1 - F.col("m")) * F.col("name_agree")).cast("bigint").alias("au_name"),
        F.sum(F.col("m") * F.col("nation_agree")).cast("bigint").alias("am_nation"),
        F.sum((1 - F.col("m")) * F.col("nation_agree")).cast("bigint").alias("au_nation"),
        F.sum(F.col("m") * F.col("bal_agree")).cast("bigint").alias("am_bal"),
        F.sum((1 - F.col("m")) * F.col("bal_agree")).cast("bigint").alias("au_bal"),
    )
    # unpivot the 1-row count frame with ONE generator instead of a
    # 3-way union of selects: the union form re-planned (and re-ran)
    # the blocked levenshtein pair aggregate once PER BRANCH — three
    # full pair scans for one 8-cell result (r15 optimization; the
    # before/after numbers are in git history, OPTIMIZATION_r15.md)
    feats = counts.select(
        F.expr(
            "stack(3, 'name_close', am_name, au_name,"
            "         'nation', am_nation, au_nation,"
            "         'bal_band', am_bal, au_bal)"
            " AS (feature, n_agree_match, n_agree_non)"
        ),
        "n_match",
        "n_non",
    )
    mh = (F.col("n_agree_match") + 0.5) / (F.col("n_match") + 1.0)
    uh = (F.col("n_agree_non") + 0.5) / (F.col("n_non") + 1.0)
    return feats.select(
        "feature",
        "n_match",
        "n_non",
        "n_agree_match",
        "n_agree_non",
        F.round(mh, 6).alias("m_hat"),
        F.round(uh, 6).alias("u_hat"),
        # + 0.0 canonicalizes the zero sign (x10 sweep: a tiny negative
        # log ratio rounds to -0.0 on one engine and 0.0 on the other)
        (F.round(F.log(mh / uh) / F.log(F.lit(2.0)), 6) + F.lit(0.0)).alias(
            "weight_agree_bits"
        ),
    ).orderBy("feature")


#: sorted-neighborhood window size (ranks)
SN_WINDOW = 5


@register(
    "er_sorted_neighborhood",
    oracle=f"""
        WITH everything AS (
            SELECT c_custkey, c_name FROM customer
            UNION ALL
            SELECT c_custkey + {ER_OFFSET}, c_name || 'X'
            FROM customer
        ),
        keyed AS (
            SELECT c_custkey, c_name,
                   COALESCE(TRY_CAST(substr(c_name, 10, 8) AS BIGINT), -1) AS sk
            FROM everything
        ),
        ranked AS (
            SELECT c_custkey, c_name,
                   ROW_NUMBER() OVER (ORDER BY sk, c_name, c_custkey) AS rnk
            FROM keyed
        ),
        pairs AS (
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   CASE WHEN strlen(a.c_name) = length(a.c_name) AND strlen(b.c_name) = length(b.c_name) THEN levenshtein(a.c_name, b.c_name) END AS ed
            FROM ranked a JOIN ranked b
              ON b.rnk > a.rnk AND b.rnk <= a.rnk + {SN_WINDOW}
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
                   CAST(SUM(CASE WHEN ed <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_matches,
                   CAST(SUM(CASE WHEN id_b = id_a + {ER_OFFSET}
                                  AND ed <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_planted_found
            FROM pairs
        ),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted FROM customer)
        SELECT {SN_WINDOW} AS window_size, n_candidates, n_matches,
               n_planted_found, t.n_planted,
               ROUND(CAST(n_planted_found AS DOUBLE) / t.n_planted, 6)
                   AS recall,
               ROUND(CAST(n_matches AS DOUBLE) / n_candidates, 6)
                   AS match_density
        FROM m CROSS JOIN t
    """,
    tags=("ER-blocking",),
)
def er_sorted_neighborhood(spark, sf_dir):
    """The SORTED-NEIGHBORHOOD method (Hernández & Stolfo 1995) — the
    third blocking strategy in the ER family, next to equality blocks
    (er_blocked_fuzzy_match) and weighted evidence (er_weighted_
    linkage): sort all records by a fuzzy key, compare each record
    only to its w={SN_WINDOW} successors in rank order.  Catches
    near-duplicates that equality blocking splits.  THIS key's
    planted noise is an APPENDED suffix (name || 'X', edit distance
    1) — the mangle keeps every sort digit, so each dirty record is
    rank-ADJACENT to its original and w=5 recovers every planted
    pair (recall 1.0 by construction); the sibling last-char-REPLACE
    fixture (er_blocked_fuzzy_match) breaks the trailing digit —
    there equality/prefix blocking wins instead, and the two keys
    together are the method-selection story.

    Scale construction: the global rank comes from banded_running on
    the INTEGER name-prefix key (no unpartitioned window — the
    Spearman rank-map discipline on an ER problem); neighborhood
    pairs join on rank-bucket adjacency (bucket = rnk div w, each
    rank meets only buckets b and b+1), so candidates are O(n·w) by
    construction — the method's defining bound.

    Exactness: ranks are exact integers over the total order
    (prefix key, name, custkey); candidate/match/recall counts are
    exact; the oracle uses the naive single-window rank and must
    agree exactly."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select("c_custkey", "c_name")
    dirty = base.select(
        (F.col("c_custkey") + ER_OFFSET).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("X")).alias("c_name"),
    )
    keyed = base.unionByName(dirty).select(
        "c_custkey",
        "c_name",
        # non-numeric prefixes (extremetext names) sort as sentinel -1:
        # keeps the total order defined with zero NULL-ordering exposure
        F.coalesce(
            F.substring("c_name", 10, 8).try_cast("bigint"), F.lit(-1)
        ).alias("sk"),
    )
    from etl_builder_spark.operators.stats import banded_running

    # total order (sk, c_name, c_custkey): fold name+key into the
    # tiebreak by ranking on sk with a composite tiebreak column
    ranked = banded_running(
        keyed.withColumn(
            # lpad (round-12 x10 sweep): duplicate names (the stride
            # synthesis reuses names across copies) engage the custkey
            # tiebreak, and a RAW string custkey orders '1000001' < '2' —
            # diverging from the oracle's numeric ORDER BY.  Zero-padding
            # makes string order = numeric order at any key magnitude.
            # Separator \x01 (round-13, ADVICE r12): the concat order
            # equals the oracle's two-key (c_name, c_custkey) order iff
            # the separator sorts below every payload byte; '#' (0x23)
            # sorts ABOVE space/tab/quote, flipping prefix-name ties on
            # such payloads.  \x01 is below every character either
            # corpus generator can emit (no NUL in any pool).
            "tb",
            F.concat(
                F.col("c_name"),
                F.lit("\x01"),
                F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
            ),
        ),
        value_col="sk",
        tiebreak_col="tb",
    ).select("c_custkey", "c_name", F.col("rnk").alias("rnk"))
    a = ranked.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("rnk").alias("rnk_a"),
        F.floor(F.col("rnk") / SN_WINDOW).cast("bigint").alias("bucket"),
    )
    b0 = ranked.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("rnk").alias("rnk_b"),
        F.floor(F.col("rnk") / SN_WINDOW).cast("bigint").alias("bucket_b"),
    )
    pairs = None
    for shift in (0, 1):
        j = a.join(
            b0,
            (F.col("bucket_b") == F.col("bucket") + shift)
            & (F.col("rnk_b") > F.col("rnk_a"))
            & (F.col("rnk_b") <= F.col("rnk_a") + SN_WINDOW),
        ).select(
            "id_a",
            "id_b",
            # bounded at 2 (r15): ed only feeds <= 2 gates below
            _lev_pinned(F.col("name_a"), F.col("name_b"), threshold=2).alias("ed"),
        )
        pairs = j if pairs is None else pairs.unionAll(j)
    m = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("ed") >= 0, 1).otherwise(0)).cast("bigint").alias("n_matches"),
        F.sum(
            F.when((F.col("id_b") == F.col("id_a") + ER_OFFSET) & (F.col("ed") >= 0), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_planted_found"),
    )
    t = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_planted"))
    return m.crossJoin(F.broadcast(t)).select(
        F.lit(SN_WINDOW).cast("bigint").alias("window_size"),
        "n_candidates",
        "n_matches",
        "n_planted_found",
        "n_planted",
        F.round(F.col("n_planted_found").cast("double") / F.col("n_planted"), 6).alias(
            "recall"
        ),
        F.round(F.col("n_matches").cast("double") / F.col("n_candidates"), 6).alias(
            "match_density"
        ),
    )
