"""Deduplication operators (SURVEY.md §2 I4-I5 + the training-data
dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup).

The corpus's 500 texts are all distinct (measured), so every dedup
query plants duplicates via a derived frame (union with a transformed
copy shifted to doc_id+10000) — the operator must both prove identity
on the originals and find the planted near-dups.

Scale posture: exact dedup is one hash-shuffle on the normalized key.
MinHash-LSH is the 100 TB path for near-dup: shingle → minhash →
band-bucket join, candidate pairs only (never O(n²)). The brute-force
n-gram Jaccard here is the oracle-checkable small-scale twin.

Hot-bucket skew: every candidate generator in this module pairs
documents by a bucket-keyed triangle self-join (token / band value),
bounded first by the DF/band-width ceilings.  If a bucket still goes
hot (a boilerplate shingle shared by millions of docs), the recipe
is the chunked upper-triangle salting described under
``dedup_semantic_centroids`` (llm/embed_dedup.py), keyed by the bucket
value: it emits the identical (bucket, id_a, id_b) rows — so the
per-pair n_common counts downstream are unchanged — while bounding
every task at ceiling² pairs.  No declared key needs it: every
fixture here is skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower, fold_upper
from etl_builder_spark.llm.text import df_ceiling_tokens, shared_token_pairs, token_trigrams
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

PLANT_OFFSET = 10000


def _with_planted_dups(d: DataFrame) -> DataFrame:
    """Union the corpus with a case/whitespace-mangled copy of itself
    (doc_id shifted) — the exact-dedup fixture."""
    mangled = d.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.lit("  "), fold_upper(F.col("text")), F.lit(" ")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return d.unionByName(mangled)


def _trimmed_copy(d: DataFrame, n_drop: int) -> DataFrame:
    """The planted near-duplicate of each (doc_id, text) row: doc_id
    shifted by PLANT_OFFSET, text without its last ``n_drop`` words
    (at least one word kept)."""
    return d.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(
                F.split("text", " "), 1, F.greatest(F.size(F.split("text", " ")) - n_drop, F.lit(1))
            ),
            " ",
        ).alias("text"),
    )


def _band_collisions(bands: DataFrame) -> DataFrame:
    """LSH candidate self-join of a (doc_id, band, bh) frame under
    aliases ``a`` and ``b``: one row per band in which two documents'
    band keys ``bh`` collide, a.doc_id < b.doc_id — candidates come
    only from bucket collisions, never all pairs."""
    a, b = bands.alias("a"), bands.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def _signature_agreement(cand: DataFrame, sig: DataFrame, keys, name: str) -> DataFrame:
    """Candidate pairs ``cand`` (id_a, id_b, …) joined component-wise to
    both documents' MinHash signatures ``sig`` (doc_id, i, minh): per
    ``keys`` group, the number ``name`` of signature components on which
    the two documents agree."""
    sa, sb = sig.alias("sa"), sig.alias("sb")
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("id_b")) & (F.col("sb.i") == F.col("sa.i")))
        .groupBy(*keys)
        .agg(F.sum(F.when(F.col("sa.minh") == F.col("sb.minh"), 1).otherwise(0)).alias(name))
    )


@register(
    "dedup_exact_normalized",
    oracle=f"""
        WITH everything AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   '  ' || upper(replace(text, chr(223), 'ss')) || ' ' AS text
            FROM documents
        ),
        normed AS (
            SELECT doc_id,
                   replace(lower(trim(regexp_replace(text, ' +', ' ', 'g'), ' ')), 'i' || chr(775), 'i') AS norm_text
            FROM everything
        )
        SELECT MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies,
               min(length(norm_text)) AS norm_len
        FROM normed
        GROUP BY norm_text
    """,
    tags=("I4",),
)
def dedup_exact_normalized(spark, sf_dir):
    """Exact dedup on normalized text (lower/trim/collapse-whitespace),
    keep the minimum doc_id per group. Every group must have exactly
    2 copies (original + planted mangle)."""
    d = load_table(spark, sf_dir, "documents")
    everything = _with_planted_dups(d)
    normed = everything.select(
        "doc_id",
        fold_lower(F.trim(F.regexp_replace(F.col("text"), " +", " "))).alias("norm_text"),
    )
    return normed.groupBy("norm_text").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min(F.length("norm_text")).alias("norm_len"),
    ).drop("norm_text")


#: Absolute doc-frequency ceiling for the token-inverted-index join:
#: a token present in more than this many documents is dropped before
#: pairing.  This bounds the candidate-pair blowup — per-token pairs
#: are at most DF_CEILING², so total candidates ≤ |vocab| · DF_CEILING²
#: regardless of corpus size (a crawl-scale stopword shared by 10⁶
#: docs would otherwise emit 10¹² pairs on its own).  The constant is
#: far above any df reachable at the test SFs (max measured df = 85),
#: so the guard provably does not change results under the oracle — it
#: exists purely as the scale clamp.  Real deployments set it to taste
#: (or feed the text_boilerplate_ngrams output in as the drop list).
DF_CEILING = 10_000


def _ngram_jaccard(spark, sf_dir, df_ceiling: int = DF_CEILING):
    """Shared body for dedup_ngram_jaccard; ``df_ceiling`` is exposed
    so tests can exercise the guard at fixture scale."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    sh = (
        d.select("doc_id", F.explode(F.split(fold_lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
        .persist()
    )
    keep = df_ceiling_tokens(sh, df_ceiling).select("token")
    sh = sh.join(F.broadcast(keep), "token").persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        shared_token_pairs(sh)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("id_b"))
        .where(jac >= 0.5)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 100
        ),
        raw_shingles AS (
            SELECT DISTINCT doc_id, token
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs) t
            WHERE token <> ''
        ),
        keep AS (
            SELECT token FROM raw_shingles
            GROUP BY token HAVING COUNT(*) <= {DF_CEILING}
        ),
        shingles AS (
            SELECT s.doc_id, s.token FROM raw_shingles s JOIN keep USING (token)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM shingles a JOIN shingles b
              ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_common,
               sa.n AS n_a, sb.n AS n_b,
               ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    """,
    tags=("I-jaccard",),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Word-shingle Jaccard near-dup, exact pairwise formulation on a
    bounded slice — the oracle-checkable twin of MinHash-LSH (which
    approximates exactly this measure at scale).

    Candidate-set bound: tokens with doc frequency above ``DF_CEILING``
    are dropped before the inverted-index self-join (both here and in
    the oracle, in lock-step), so per-token candidate pairs are capped
    at DF_CEILING² and the join can never go quadratic in corpus size
    on a hot token.  Jaccard is computed over the SURVIVING token
    universe (sizes come from the filtered shingle set), keeping the
    measure internally consistent.
    """
    return _ngram_jaccard(spark, sf_dir, DF_CEILING)


#: 16 fixed universal-hash permutations (a*h + b) mod P for the exact
#: MinHash twin — generated once from a pinned seed so the Spark body
#: and the DuckDB oracle share literal constants.
import random as _random

_P = 1_000_000_007
_rng = _random.Random(7)
MINHASH_PERMS: tuple[tuple[int, int], ...] = tuple(
    (_rng.randrange(1, 10**9), _rng.randrange(0, 10**9)) for _ in range(16)
)
_POW31 = (1, 31, 961, 29791)


def _word_shingles(everything: DataFrame) -> DataFrame:
    """Distinct 3-word shingles (doc_id, sh) of a (doc_id, text) frame,
    split on single spaces: the set the MinHash signature hashes and
    the exact-Jaccard audits intersect, so both sides tokenize alike."""
    # SQL text, like the signature's hash fold below: one parse instead
    # of a Column-API lambda's py4j round trips, the same Catalyst tree,
    # and a lambda name that no JVM-wide counter moves.
    toks = everything.select("doc_id", F.split("text", " ").alias("toks"))
    grams = F.expr(
        "transform(sequence(0, size(toks) - 3),"
        " i -> array_join(slice(toks, i + 1, 3), ' '))"
    )
    return (
        toks.where(F.size("toks") >= 3)
        .select("doc_id", F.explode(grams).alias("sh"))
        .distinct()
    )


def _minhash_sig_bands(everything):
    """Shared MinHash signature pipeline over a (doc_id, text) frame:
    3-word shingles → char-poly hash mod P → 16 permuted minima as 16
    map-side-combined aggregates → (doc_id, i, minh) long form → 4×4
    band keys.  Returns (sig, bands)."""
    shingles = _word_shingles(everything)
    # HOF expressions as SQL text (the similarity.dot rationale): the
    # char-code filter and rolling-hash fold cost lambda constructions
    # of py4j round trips per build; the parsed string yields the same
    # Catalyst tree (CAST(0 AS BIGINT) is the long literal the Column
    # form built).
    h = F.expr(
        "aggregate(filter(transform(split(sh, ''), c -> CAST(ascii(c) AS BIGINT)),"
        f" x -> x > 0), CAST(0 AS BIGINT), (a, x) -> (a * 31 + x) % {_P})"
    )
    sh_hash = shingles.select("doc_id", h.alias("h"))
    # the 16 permuted minima build as SQL text — one parse per
    # aggregate instead of per-perm Column-API py4j crossings (r15,
    # same rationale as the simhash/sign-LSH constructors)
    mins = [
        F.expr(f"min(({a} * h + {b}) % {_P})").alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    sig_wide = sh_hash.groupBy("doc_id").agg(*mins)
    marr = ", ".join(f"m{i}" for i in range(len(MINHASH_PERMS)))
    sig = sig_wide.select(
        "doc_id",
        F.posexplode(F.expr(f"array({marr})")).alias("i", "minh"),
    ).select("doc_id", F.col("i").cast("long").alias("i"), "minh").persist()
    pow31 = F.expr(
        f"element_at(array({', '.join(str(p) for p in _POW31)}),"
        " CAST(i % 4 + 1 AS INT))"
    )
    bands = (
        sig.groupBy("doc_id", (F.col("i") / 4).cast("long").alias("band"))
        .agg((F.sum((F.col("minh") * pow31) % _P) % _P).alias("bh"))
        .persist()
    )
    # both frames are multi-referenced by every caller (bands is
    # self-joined; sig joins once per pair side) — persisted so the
    # shingle→hash→minima pipeline runs once, not 4-6 times
    return sig, bands


@register(
    "dedup_minhash_exact",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 200
        ),
        planted AS (
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-2,1)],
                       ' ') AS text
            FROM base
        ),
        everything AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM everything),
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
        perms(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_P}) AS minh
            FROM sh_hash CROSS JOIN perms
            GROUP BY doc_id, i
        ),
        bands AS (
            -- i // 4: explicit integer division (plain / is float in
            -- DuckDB and CAST rounds-to-nearest, which would band
            -- differently from Spark's truncating cast)
            SELECT doc_id, i // 4 AS band,
                   SUM((minh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                          WHEN 2 THEN 961 ELSE 29791 END) % {_P})
                       % {_P} AS bh
            FROM sig GROUP BY doc_id, band
        ),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT c.id_a, c.id_b, c.n_shared_bands,
               CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_eq_components
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
        GROUP BY c.id_a, c.id_b, c.n_shared_bands
    """,
    tags=("I5-exact",),
)
def dedup_minhash_exact(spark, sf_dir):
    """MinHash-LSH with deterministic universal-hash permutations —
    the EXACT-oracle twin of ``dedup_minhash_lsh`` (whose pyspark.ml
    minhashes are engine-specific and only rows-only checkable).

    Pipeline, identical in both engines: 3-word shingles → char-level
    polynomial hash mod 1e9+7 → 16 permuted min-hashes (fixed (a,b)
    constants shared literally with the oracle) → 4 bands of 4 (band
    key = order-free weighted sum mod P) → candidate pairs = docs
    sharing a band bucket → per-pair matching-component count.

    100 TB posture: this IS the scale formulation — candidates come
    only from band-bucket collisions (one shuffle on (band, bh)), so
    cost is proportional to true near-duplicates, never O(n²); the
    16 min-aggregations are one shuffle on doc_id with map-side
    combine.  Every intermediate stays below 2^60, so JVM wrap vs
    DuckDB overflow-error semantics never diverge.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", fold_lower("text").alias("text")
    )
    planted = _trimmed_copy(d, 2)
    everything = d.unionByName(planted)
    # 16 permuted minima are computed as 16 aggregate expressions over
    # the UN-expanded shingle rows (map-side combine does the heavy
    # lifting) — the old shape crossJoined every shingle row with the
    # 16 broadcast perms before aggregating, 16× the shuffle volume
    # for identical values (VERDICT r3 item 3).
    sig, bands = _minhash_sig_bands(everything)
    cand = (
        _band_collisions(bands)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return _signature_agreement(
        cand, sig, ("id_a", "id_b", "n_shared_bands"), "n_eq_components"
    )


#: incremental-dedup fixture split: docs < INC_OLD_MAX are the already-
#: deduplicated corpus, the rest of the slice plus planted trims of the
#: corpus docs are the arriving batch
INC_OLD_MAX = 150
INC_SLICE_MAX = 300


@register(
    "dedup_minhash_incremental",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < {INC_SLICE_MAX}
        ),
        old AS (SELECT * FROM base WHERE doc_id < {INC_OLD_MAX}),
        newb AS (
            SELECT * FROM base WHERE doc_id >= {INC_OLD_MAX}
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-2,1)],
                       ' ') AS text
            FROM old
        ),
        everything AS (SELECT * FROM old UNION ALL SELECT * FROM newb),
        toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM everything),
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
        perms(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_P}) AS minh
            FROM sh_hash CROSS JOIN perms
            GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, i // 4 AS band,
                   SUM((minh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                          WHEN 2 THEN 961 ELSE 29791 END) % {_P})
                       % {_P} AS bh
            FROM sig GROUP BY doc_id, band
        ),
        cand AS (
            -- probe side n is NEW docs only: old×old pairs are never
            -- generated (the corpus is already deduplicated); new×new
            -- pairs arrive in both orientations, deduped by
            -- LEAST/GREATEST + COUNT(DISTINCT band)
            SELECT LEAST(n.doc_id, o.doc_id) AS id_a,
                   GREATEST(n.doc_id, o.doc_id) AS id_b,
                   COUNT(DISTINCT n.band) AS n_shared_bands
            FROM bands n
            JOIN bands o ON n.band = o.band AND n.bh = o.bh
                        AND o.doc_id <> n.doc_id
            WHERE n.doc_id >= {INC_OLD_MAX}
            GROUP BY 1, 2
        )
        SELECT c.id_a, c.id_b, c.n_shared_bands,
               CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_eq_components,
               (c.id_a < {INC_OLD_MAX}) AS cross_corpus
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
        GROUP BY c.id_a, c.id_b, c.n_shared_bands
    """,
    tags=("I5-incremental",),
)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash dedup — the PRODUCTION dedup shape: an
    already-deduplicated corpus receives a new batch, and candidates
    are generated only for pairs involving a new document (new×corpus
    and new×new), never corpus×corpus.  At 100 TB this is the whole
    point of banded signatures as a maintained INDEX: corpus band keys
    are precomputed and bucket-partitioned, each arriving batch
    computes its own signatures (one scan of the batch) and probes the
    buckets it collides with — cost scales with the batch, not the
    corpus.  Same deterministic universal-hash pipeline and constants
    as ``dedup_minhash_exact`` (shared ``_minhash_sig_bands`` body),
    so the whole asymmetric search is hash-checked.

    Output: ``cross_corpus`` = true marks a new doc duplicating an
    existing corpus doc (drop the new doc); false marks within-batch
    pairs (keep one of the batch).  Fixture: docs < INC_OLD_MAX are
    the corpus, docs INC_OLD_MAX..INC_SLICE_MAX plus drop-two-word
    trims of every corpus doc are the batch."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < INC_SLICE_MAX).select(
        "doc_id", fold_lower("text").alias("text")
    )
    old = d.where(F.col("doc_id") < INC_OLD_MAX)
    plants = _trimmed_copy(old, 2)
    everything = d.unionByName(plants)
    sig, bands = _minhash_sig_bands(everything)
    n, o = bands.alias("n"), bands.alias("o")
    cand = (
        n.where(F.col("n.doc_id") >= INC_OLD_MAX)
        .join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bh") == F.col("o.bh"))
            & (F.col("o.doc_id") != F.col("n.doc_id")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_a"),
            F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_b"),
            F.col("n.band").alias("band"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("band").alias("n_shared_bands"))
    )
    return _signature_agreement(
        cand, sig, ("id_a", "id_b", "n_shared_bands"), "n_eq_components"
    ).withColumn("cross_corpus", F.col("id_a") < INC_OLD_MAX)


@register(
    "dedup_minhash_lsh",
    oracle=None,  # probabilistic (banded minhash collisions) → rows-only
    tags=("I5",),
)
def dedup_minhash_lsh(spark, sf_dir):
    """Near-dup candidate pairs via MinHash-LSH (pyspark.ml), fixed
    seed. Fixture: corpus unioned with a copy that drops the last two
    words of each text (shifted ids) — near-dups at Jaccard ≳ 0.8.

    This is the 100 TB dedup path: HashingTF sparse vectors →
    numHashTables banded minhashes → approxSimilarityJoin emits only
    bucket-colliding candidate pairs (no O(n²) cross join).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    d = load_table(spark, sf_dir, "documents").select("doc_id", fold_lower("text").alias("text"))
    trimmed = _trimmed_copy(d, 2)
    tok = Tokenizer(inputCol="text", outputCol="words")
    tf = HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 14)
    # all-whitespace text tokenizes to an EMPTY words array → an
    # all-zero vector, which MinHashLSH rejects ("at least 1 non zero
    # entry").  A doc with no tokens has no shingle signature, so both
    # sides exclude it from the candidate space (extremetext sweep).
    feats_a = tf.transform(tok.transform(d)).where(F.size("words") > 0)
    feats_b = tf.transform(tok.transform(trimmed)).where(F.size("words") > 0)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats_a)
    pairs = model.approxSimilarityJoin(feats_a, feats_b, 0.5, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .where(F.col("id_b") == F.col("id_a") + PLANT_OFFSET)
        .orderBy("id_a")
    )


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64 bit-mixing has no DuckDB twin → rows-only
    tags=("I-simhash",),
)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints, expression-only: token → xxhash64 →
    per-bit ±1 vote weighted by token frequency → sign → packed bits.
    Near-dups = fingerprints at small Hamming distance; here the planted
    copy drops one word, so distances are small but nonzero."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", fold_lower("text").alias("text"))
    trimmed = _trimmed_copy(d, 1)
    both = d.unionByName(trimmed)
    toks = both.select("doc_id", F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    h = toks.select("doc_id", F.xxhash64("token").alias("h"))
    bits = h.select(
        "doc_id",
        *[
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"b{i}")
            for i in range(16)
        ],
    )
    votes = bits.groupBy("doc_id").agg(*[F.sum(f"b{i}").alias(f"b{i}") for i in range(16)])
    fp = votes.select(
        "doc_id",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(16)],
            F.lit(0),
        ).alias("simhash16"),
    )
    orig = fp.where(F.col("doc_id") < PLANT_OFFSET).alias("o")
    plant = fp.where(F.col("doc_id") >= PLANT_OFFSET).alias("p")
    paired = orig.join(plant, F.col("p.doc_id") == F.col("o.doc_id") + PLANT_OFFSET)
    hamming = F.bit_count(F.col("o.simhash16").bitwiseXOR(F.col("p.simhash16")))
    return paired.select(
        F.col("o.doc_id").alias("doc_id"),
        F.col("o.simhash16").alias("fp_orig"),
        F.col("p.simhash16").alias("fp_near"),
        hamming.alias("hamming"),
    ).where(hamming <= 6)


#: 48 fixed universal-hash bit-functions for the exact SimHash twin —
#: same pinned-seed scheme as MINHASH_PERMS, so Spark body and DuckDB
#: oracle share literal constants.  48 bits keeps the packed
#: fingerprint positive in a BIGINT in both engines.
_simhash_rng = _random.Random(11)
SIMHASH_PERMS: tuple[tuple[int, int], ...] = tuple(
    (_simhash_rng.randrange(1, 10**9), _simhash_rng.randrange(0, 10**9)) for _ in range(48)
)
#: pigeonhole banding: 6 bands × 8 bits.  Hamming ≤ 5 forces at least
#: one equal band, so the band-bucket join loses NOTHING at the ham ≤ 3
#: output cut — the banded search is exactly brute force, minus the scan.
SIMHASH_BANDS, SIMHASH_BAND_BITS = 6, 8
SIMHASH_HAM_MAX = 3


@register(
    "dedup_simhash_exact",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 200
        ),
        planted AS (
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-1,1)],
                       ' ') AS text
            FROM base
        ),
        everything AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        tok AS (
            SELECT doc_id, t AS token, COUNT(*) AS w
            FROM everything, unnest(string_split(text, ' ')) AS u(t)
            WHERE t <> '' GROUP BY doc_id, t
        ),
        th AS (
            SELECT doc_id, w,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_filter(string_split_regex(token, ''), c -> c <> ''),
                           c -> CAST(unicode(c) AS BIGINT))),
                       (a, b) -> (a * 31 + b) % {_P}) AS h
            FROM tok
        ),
        perms(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(SIMHASH_PERMS))}),
        votes AS (
            SELECT doc_id, i,
                   SUM(w * (2 * (((a * h + b) % {_P}) % 2) - 1)) AS v
            FROM th CROSS JOIN perms GROUP BY doc_id, i
        ),
        fp AS (
            SELECT doc_id,
                   SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS f
            FROM votes GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, f, b AS band,
                   (f >> ({SIMHASH_BAND_BITS} * b)) & {(1 << SIMHASH_BAND_BITS) - 1} AS bkey
            FROM fp, unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS u(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, ham FROM (
            SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS ham FROM cand
        ) WHERE ham <= {SIMHASH_HAM_MAX}
    """,
    tags=("I-simhash-exact",),
)
def dedup_simhash_exact(spark, sf_dir):
    """SimHash near-dup SEARCH with the whole pipeline hash-checked —
    the exact-oracle twin of ``dedup_simhash`` (whose xxhash64 bit-mix
    is engine-specific), the same way ``dedup_minhash_exact`` twins I5:

    token → char-poly hash mod P → 48 universal-hash sign bits, votes
    weighted by in-doc term frequency → packed 48-bit fingerprint →
    pigeonhole banding (6 × 8 bits: hamming ≤ 5 ⇒ some band equal, so
    the band-bucket join is EXACTLY brute force at the ham ≤ 3 cut) →
    per-candidate hamming via xor+bit_count.

    100 TB posture: fingerprints are one groupBy(doc) shuffle with 48
    map-side-combined vote aggregates (de-exploded — the corpus is
    never multiplied by the bit count); candidates come only from the
    band-bucket equi-join.  Production deployments widen to 64-bit
    fingerprints and 16-bit bands (Manku et al., WWW'07) — identical
    shape, coarser here only so the toy corpus collides non-vacuously.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", fold_lower("text").alias("text")
    )
    planted = _trimmed_copy(d, 1)
    everything = d.unionByName(planted)
    tok = (
        everything.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    codes = F.filter(
        F.transform(F.split("token", ""), lambda c: F.ascii(c).cast("long")), lambda x: x > 0
    )
    h = F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: (a * 31 + x) % _P)
    th = tok.select("doc_id", "w", h.alias("h"))
    # the 48-expression families build as SQL text — ONE parse per
    # column instead of ~12 py4j Column-API crossings per bit (r15,
    # guide §1.2 step 2: measured ~1.4s of pure driver-side plan
    # construction per build at any SF); literal shapes match the old
    # Column form exactly (INT * BIGINT arithmetic, BIGINT bit values)
    votes = [
        F.expr(
            f"sum(w * (2 * ((({a} * h + {b}) % {_P}) % 2) - 1))"
        ).alias(f"v{i}")
        for i, (a, b) in enumerate(SIMHASH_PERMS)
    ]
    vw = th.groupBy("doc_id").agg(*votes)
    fp_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(len(SIMHASH_PERMS))
    )
    fp = vw.selectExpr("doc_id", f"CAST(0 AS BIGINT) + {fp_terms} AS f")
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_arr = ", ".join(
        f"(shiftright(f, {SIMHASH_BAND_BITS * b}) & {mask})"
        for b in range(SIMHASH_BANDS)
    )
    bands = fp.select(
        "doc_id",
        "f",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band", "bh"),
    ).persist()
    cand = (
        _band_collisions(bands)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        cand.select("id_a", "id_b", ham.alias("ham"))
        .where(F.col("ham") <= SIMHASH_HAM_MAX)
    )


#: containment fixture: excerpt plants keep the first max(3, ⌊n/2⌋)
#: tokens of each source doc plus a marker token absent from the
#: original — so containment(excerpt ⊆ original) is (k-1)/k for k
#: distinct excerpt tokens while Jaccard sits near 0.5, exactly the
#: asymmetric case the symmetric measure misses.
CONTAINMENT_TAU = 0.8


@register(
    "dedup_text_containment",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 100
        ),
        everything AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET},
                   array_to_string(
                       list_slice(string_split(text, ' '), 1,
                                  greatest(3, len(string_split(text, ' ')) // 2)),
                       ' ') || ' excerptmarker'
            FROM base
        ),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM everything
        ),
        shingles AS (
            SELECT DISTINCT doc_id, token
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - 1),
                                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS token
                  FROM toks WHERE len(t) >= 3) g
        ),
        keep AS (
            SELECT token FROM shingles GROUP BY token HAVING COUNT(*) <= {DF_CEILING}
        ),
        kept AS (SELECT s.doc_id, s.token FROM shingles s JOIN keep USING (token)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM kept a JOIN kept b
              ON a.token = b.token AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
               ROUND(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= {CONTAINMENT_TAU}
    """,
    tags=("I-containment",),
)
def dedup_text_containment(spark, sf_dir):
    """Containment (overlap-coefficient) near-dup: |A∩B| / min(|A|,|B|)
    over token-TRIGRAM shingle sets — the ASYMMETRIC companion to
    ``dedup_ngram_jaccard``.  Jaccard misses subset duplication by
    construction: an excerpt holding half a document's tokens scores
    J ≈ 0.5 (below any dup threshold) but containment ≈ 1.0.  Exactly
    this measure drives quote/boilerplate/excerpt removal in corpus
    curation, where the contained COPY (not the original) is dropped.

    Fixture: excerpt plants (first half of each doc's tokens + a novel
    marker token, doc_id+PLANT_OFFSET) — each must pair with its
    original at containment (k-1)/k while the Jaccard key would score
    it ≈ 0.5.  The oracle replays plant synthesis and measure in SQL,
    so the hash check is end-to-end exact.

    Scale shape is the Jaccard key's: inverted-index equi-join with
    the DF ceiling capping per-token fan-out at DF_CEILING² — never
    all-pairs (100 TB posture identical, see dedup_ngram_jaccard)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    base = d.select("doc_id", fold_lower("text").alias("text"))
    toks = F.split(F.col("text"), " ")
    excerpt_text = F.concat(
        F.array_join(
            F.slice(toks, 1, F.greatest(F.lit(3), F.floor(F.size(toks) / 2).cast("int"))),
            " ",
        ),
        F.lit(" excerptmarker"),
    )
    everything = base.unionByName(
        base.select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
            excerpt_text.alias("text"),
        )
    )
    tok_base, tri = token_trigrams(everything, F.col("text"))
    sh = (
        tok_base.select("doc_id", F.explode(tri).alias("token"))
        .distinct()
    )
    keep = df_ceiling_tokens(sh, DF_CEILING).select("token")
    sh = sh.join(F.broadcast(keep), "token").persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        shared_token_pairs(sh)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    containment = F.col("n_common").cast("double") / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("id_b"))
        .where(containment >= CONTAINMENT_TAU)
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            F.round(containment, 6).alias("containment"),
        )
    )


@register(
    "dedup_token_sort",
    oracle=f"""
        WITH everything AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text
            FROM documents
        ),
        keyed AS (
            SELECT doc_id,
                   array_to_string(list_sort(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')), ' ')
                       AS sort_key
            FROM everything
        )
        SELECT MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_copies,
               MIN(length(sort_key)) AS key_len
        FROM keyed
        GROUP BY sort_key
        HAVING COUNT(*) > 1
    """,
    tags=("I-dedup-tokensort",),
)
def dedup_token_sort(spark, sf_dir):
    """Token-sort dedup — exact match on the multiset of tokens (sort
    tokens within each doc, hash-group on the sorted form), catching
    word-reordered near-duplicates that exact normalization misses and
    MinHash only finds probabilistically.  The fixture plants a
    token-REVERSED copy of every document; each planted pair collapses
    onto one sorted key.  One expression-only projection (split →
    array_sort → array_join, all JVM codegen) then a single hash
    aggregate on the key — the same one-shuffle shape as exact dedup,
    so it scales identically (hash the sorted key to 128 bits at real
    scale instead of carrying the string, as with every dedup key
    here)."""
    d = load_table(spark, sf_dir, "documents")
    reversed_copy = d.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), " ")), " ").alias("text"),
    )
    everything = d.select("doc_id", "text").unionByName(reversed_copy)
    keyed = everything.select(
        "doc_id",
        F.array_join(F.array_sort(F.split(fold_lower("text"), " ")), " ").alias("sort_key"),
    )
    return (
        keyed.groupBy("sort_key")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.length("sort_key")).alias("key_len"),
        )
        .where(F.col("n_copies") > 1)
        .drop("sort_key")
    )


@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 200
        ),
        everything AS (
            SELECT * FROM base
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-2,1)],
                       ' ') AS text
            FROM base
        ),
        toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM everything),
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
        perms(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_P}) AS minh
            FROM sh_hash CROSS JOIN perms
            GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, i // 4 AS band,
                   SUM((minh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                          WHEN 2 THEN 961 ELSE 29791 END) % {_P})
                       % {_P} AS bh
            FROM sig GROUP BY doc_id, band
        ),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh
                        AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        eq AS (
            SELECT c.id_a, c.id_b,
                   CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_eq
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
            GROUP BY 1, 2
        ),
        ssize AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingles GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS ni
            FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT e.id_a, e.id_b, e.n_eq,
               e.n_eq / 16.0 AS est_jaccard,
               COALESCE(i.ni, 0) / CAST(za.sz + zb.sz - COALESCE(i.ni, 0) AS DOUBLE)
                   AS exact_jaccard,
               ROUND(ABS(e.n_eq / 16.0
                         - COALESCE(i.ni, 0)
                           / CAST(za.sz + zb.sz - COALESCE(i.ni, 0) AS DOUBLE)), 6)
                   AS abs_error
        FROM eq e
        JOIN ssize za ON za.doc_id = e.id_a
        JOIN ssize zb ON zb.doc_id = e.id_b
        LEFT JOIN inter i ON i.ia = e.id_a AND i.ib = e.id_b
    """,
    tags=("I5-eval",),
)
def dedup_minhash_estimate_error(spark, sf_dir):
    """MinHash estimator quality, measured in-engine: for every
    band-collision candidate pair, the 16-component signature-match
    Jaccard ESTIMATE next to the EXACT shingle-set Jaccard (inverted-
    index intersection — never all-pairs) and their absolute error —
    the sketch-accuracy audit a dedup pipeline runs before picking its
    banding thresholds.  Shares the pinned-permutation signature
    pipeline with dedup_minhash_exact, so both columns are fully
    deterministic; the error is one fixed float expression of exact
    integers.

    100 TB posture: candidates only from band buckets, intersections
    only through the shared-shingle equi-join restricted to those
    pairs — the audit costs what the dedup itself costs."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", fold_lower("text").alias("text")
    )
    planted = _trimmed_copy(d, 2)
    everything = d.unionByName(planted).persist()
    sig, bands = _minhash_sig_bands(everything)
    shingles = _word_shingles(everything).persist()
    cand = (
        _band_collisions(bands)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    eq = _signature_agreement(cand, sig, ("id_a", "id_b"), "n_eq")
    ssize = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    xa, xb = shingles.alias("xa"), shingles.alias("xb")
    inter = (
        xa.join(
            xb,
            (F.col("xa.sh") == F.col("xb.sh"))
            & (F.col("xa.doc_id") < F.col("xb.doc_id")),
        )
        .groupBy(F.col("xa.doc_id").alias("ia"), F.col("xb.doc_id").alias("ib"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    za = ssize.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    zb = ssize.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    j = (
        eq.join(F.broadcast(za), F.col("da") == F.col("id_a"))
        .join(F.broadcast(zb), F.col("db") == F.col("id_b"))
        .join(
            inter,
            (F.col("ia") == F.col("id_a")) & (F.col("ib") == F.col("id_b")),
            "left",
        )
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    est = F.col("n_eq") / F.lit(16.0)
    exact = ni / (F.col("sza") + F.col("szb") - ni).cast("double")
    return j.select(
        "id_a",
        "id_b",
        "n_eq",
        est.alias("est_jaccard"),
        exact.alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_error"),
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
        WITH clusters AS (
            SELECT md5(replace(lower(text), 'i' || chr(775), 'i')) AS ck, CAST(COUNT(*) AS BIGINT) AS sz
            FROM documents GROUP BY 1
        )
        SELECT sz AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(sz) AS BIGINT) AS n_docs,
               CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
        FROM clusters
        GROUP BY sz
    """,
    tags=("I4-profile",),
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster-size histogram — the profile a dedup run
    publishes before deleting anything: exact-content clusters (md5 of
    the lowered text) bucketed by size, with docs-per-bucket and the
    removable count (size − 1 per cluster).  Two hash aggregates;
    the histogram is at most |distinct sizes| rows at any scale."""
    d = load_table(spark, sf_dir, "documents")
    clusters = d.groupBy(F.md5(fold_lower(F.col("text"))).alias("ck")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("bigint").alias("n_removable"),
    )


@register(
    "sketch_minhash_calibration",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents WHERE doc_id < 200
        ),
        planted AS (
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   array_to_string(
                       string_split(text, ' ')[1:greatest(len(string_split(text,' '))-2,1)],
                       ' ') AS text
            FROM base
        ),
        everything AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
        toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM everything),
        shingles AS (
            SELECT DISTINCT doc_id, array_to_string(toks[i+1:i+3], ' ') AS sh
            FROM toks, unnest(generate_series(0, len(toks)-3)) AS g(i)
            WHERE len(toks) >= 3
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
            FROM shingles GROUP BY doc_id
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
        perms(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_PERMS))}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_P}) AS minh
            FROM sh_hash CROSS JOIN perms
            GROUP BY doc_id, i
        ),
        bands AS (
            SELECT doc_id, i // 4 AS band,
                   SUM((minh * CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31
                                          WHEN 2 THEN 961 ELSE 29791 END) % {_P})
                       % {_P} AS bh
            FROM sig GROUP BY doc_id, band
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ),
        eq AS (
            SELECT c.id_a, c.id_b,
                   CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_eq
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
            GROUP BY c.id_a, c.id_b
        ),
        common AS (
            SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN shingles x ON x.doc_id = c.id_a
            JOIN shingles y ON y.doc_id = c.id_b AND y.sh = x.sh
            GROUP BY c.id_a, c.id_b
        ),
        pairs AS (
            SELECT e.id_a, e.id_b, e.n_eq,
                   COALESCE(co.n_common, 0) AS n_common,
                   sa.n_sh + sb.n_sh - COALESCE(co.n_common, 0) AS n_union
            FROM eq e
            LEFT JOIN common co ON co.id_a = e.id_a AND co.id_b = e.id_b
            JOIN sizes sa ON sa.doc_id = e.id_a
            JOIN sizes sb ON sb.doc_id = e.id_b
        )
        SELECT n_eq,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(CAST(SUM(CAST(ROUND(CAST(n_common AS DOUBLE) / n_union, 9)
                                   AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_jaccard,
               ROUND(CAST(SUM(CAST(ROUND(ABS(CAST(n_eq AS DOUBLE) / 16.0
                                             - CAST(n_common AS DOUBLE) / n_union), 9)
                                   AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_abs_err
        FROM pairs
        GROUP BY n_eq
        ORDER BY n_eq
    """,
    tags=("I5-calibration",),
)
def sketch_minhash_calibration(spark, sf_dir):
    """MinHash estimator-accuracy census — the calibration check every
    sketch deployment should run BEFORE trusting a signature-agreement
    threshold: for every banding candidate pair, compare the sketch's
    Jaccard estimate (n_eq/16 matching signature components) against
    the EXACT shingle-set Jaccard, binned by n_eq: pair count, mean
    true Jaccard, mean |estimate − truth|.  This turns "MinHash
    approximates Jaccard" from folklore into a measured per-corpus
    table (the binomial √(J(1−J)/16) error band is visible in the
    output), and is how a production pipeline picks its
    n_eq-threshold ↔ recall/precision operating point.

    Exactness: the signature pipeline is the deterministic universal-
    hash construction shared literally with dedup_minhash_exact; the
    exact-Jaccard side is integer set arithmetic on the SAME shingle
    frame (|A∩B| via the inverted index, |A∪B| = |A|+|B|−|A∩B|); the
    two per-pair float ratios are single fixed expressions rounded to
    9 dp and summed as DECIMAL(38,9) — order-free — with one final
    division rounded to 6 dp.  A candidate pair with a pure band-hash
    collision (zero shared shingles) is kept at n_common = 0 via the
    left join, not silently dropped.

    100 TB posture: exact Jaccard is computed ONLY on banding
    candidates (never all pairs), so the census costs one extra
    inverted-index join bounded by the LSH candidate set — the same
    bound the dedup itself carries; at scale you'd run it on a fixed
    random sample of candidates, same plan."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select(
        "doc_id", fold_lower("text").alias("text")
    )
    planted = _trimmed_copy(d, 2)
    everything = d.unionByName(planted)
    sig, bands = _minhash_sig_bands(everything)
    shingles = _word_shingles(everything).persist()
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    cand = (
        _band_collisions(bands)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .persist()
    )
    eq = _signature_agreement(cand, sig, ("id_a", "id_b"), "n_eq")
    x, y = shingles.alias("x"), shingles.alias("y")
    common = (
        cand.join(x, F.col("x.doc_id") == F.col("id_a"))
        .join(y, (F.col("y.doc_id") == F.col("id_b")) & (F.col("y.sh") == F.col("x.sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    pairs = (
        eq.join(common, ["id_a", "id_b"], "left")
        .join(za, F.col("za.doc_id") == F.col("id_a"))
        .join(zb, F.col("zb.doc_id") == F.col("id_b"))
        .select(
            "n_eq",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (
                F.col("za.n_sh") + F.col("zb.n_sh") - F.coalesce(F.col("n_common"), F.lit(0))
            ).alias("n_union"),
        )
    )
    dec9 = lambda c: F.round(c, 9).cast("decimal(38,9)")  # noqa: E731
    j = F.col("n_common").cast("double") / F.col("n_union")
    err = F.abs(F.col("n_eq").cast("double") / F.lit(16.0) - j)
    return (
        pairs.groupBy("n_eq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.sum(dec9(j)).cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_jaccard"
            ),
            F.round(F.sum(dec9(err)).cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("n_eq")
    )
