"""Text analysis over the documents corpus (SURVEY.md §2 I1-I3, plus
language-ID heuristics, quality scoring, token counting and rolling-
hash fingerprints mandated by the training-data-pipeline surface).

Everything is expression-only (explode/split/groupBy) — tokenization
never leaves the JVM, so at 100 TB it is a single shuffle on the token
or doc key with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.folding import fold_lower
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


def tokens(df, text_col: str = "text"):
    """(doc_id, token) pairs — whitespace tokenization, lower-cased."""
    return df.select(
        "doc_id", F.explode(F.split(fold_lower(F.col(text_col)), " ")).alias("token")
    ).where(F.col("token") != "")


def token_trigrams(df, text):
    """Word-trigram shingling of ``df``'s ``text`` column expression:
    returns ``(toks, tri)`` — ``toks`` is (doc_id, toks) with the
    non-empty space-split tokens of each doc that has at least 3, and
    ``tri`` is the array<string> column of that doc's trigrams, built
    off ``toks``."""
    # two-stage form (r15, guide §1.2 step 2): materialize the token
    # array as a COLUMN first, then shingle off the column.  The
    # single-expression form inlined filter(split(lower(text))) into
    # every element_at inside the transform lambda — Catalyst does not
    # hoist it, so the split re-ran once per trigram per element_at
    # (O(n_tokens) splits/doc, ×3); measured 5.67 s → 0.56 s for the
    # sparse_sim.shingle_tf pass at sf0.1 on 8 cores, bit-identical
    # output.
    t = F.filter(F.split(text, " "), lambda x: x != "")
    toks = df.select("doc_id", t.alias("toks")).where(F.size("toks") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
            F.element_at(F.col("toks"), i + 2),
        ),
    )
    return toks, tri


def df_ceiling_tokens(sh, ceiling: int):
    """(token, df) for every token of a (doc_id, token, …) frame whose
    document frequency is at most ``ceiling`` — the inverted index's
    scale clamp: a token shared by df docs emits ~df² candidate pairs
    in ``shared_token_pairs``, so capping df bounds the candidate set
    linearly in corpus size."""
    return sh.groupBy("token").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= ceiling)


def shared_token_pairs(sh):
    """Inverted-index candidate self-join of a (doc_id, token, …) frame
    under aliases ``a`` and ``b``: one row per token two documents
    share, a.doc_id < b.doc_id — candidates come only from shared
    tokens, never all pairs."""
    a, b = sh.alias("a"), sh.alias("b")
    return a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))


@register(
    "text_tokenize_counts",
    oracle="""
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ) t
        WHERE token <> ''
        GROUP BY token
    """,
    tags=("I1",),
)
def text_tokenize_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return tokens(d).groupBy("token").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs")
    )


@register(
    "text_corpus_stats",
    oracle="""
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars
        FROM documents
        GROUP BY lang, source
    """,
    tags=("I2",),
)
def text_corpus_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_tfidf_sql",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM toks WHERE token <> '' GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df
            FROM toks WHERE token <> '' GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.token, tf.tf,
               ROUND(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6) AS idf,
               ROUND(tf.tf * ROUND(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    tags=("I3",),
)
def text_tfidf_sql(spark, sf_dir):
    """TF-IDF as a pure-relational pipeline: tokenize → TF per
    (doc, term) → DF per term (broadcast — vocabulary is small) →
    smoothed idf. tfidf multiplies the ROUNDED idf so both engines
    round the same double."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(d)
    # one corpus pass: DF derives from TF (TF has exactly one row per
    # (doc, token), so COUNT per token ≡ COUNT(DISTINCT doc_id) over
    # the raw token stream) — the persisted TF feeds both sides instead
    # of re-exploding the corpus for the document-frequency aggregate
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0), 6)
    return (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            idf.alias("idf"),
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


@register(
    "text_quality_score",
    oracle="""
        -- COALESCE(n_chars, length(text)) (r12 nullmeasures): a
        -- quality gate derives the length when the metadata column is
        -- missing — the gate stays TOTAL instead of NULL booleans
        SELECT doc_id,
               COALESCE(n_chars, length(text)) AS n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               ROUND(CAST(COALESCE(n_chars, length(text)) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS avg_token_len,
               len(list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS n_stopwords,
               ROUND(CAST(len(list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS stopword_ratio,
               (COALESCE(n_chars, length(text)) BETWEEN 50 AND 5000) AS length_ok
        FROM documents
    """,
    tags=("I-text-quality",),
)
def text_quality_score(spark, sf_dir):
    """Document quality heuristics for training-data filtering: token
    counts, average token length, stopword ratio, length gate."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is")])
    n_stop = F.size(F.filter(F.split(fold_lower(F.col("text")), " "), lambda t: F.array_contains(stop, t)))
    n_toks = F.size(toks)
    # derive length when the metadata column is NULL (r12): the gate
    # stays total — unknown metadata must not produce NULL booleans
    nch = F.coalesce(F.col("n_chars"), F.length("text"))
    return d.select(
        "doc_id",
        nch.alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(nch.cast("double") / n_toks, 6).alias("avg_token_len"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_toks, 6).alias("stopword_ratio"),
        nch.between(50, 5000).alias("length_ok"),
    )


@register(
    "vocab_top_tokens",
    oracle="""
        WITH counts AS (
            SELECT token, COUNT(*) AS n
            FROM (SELECT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token FROM documents) t
            WHERE token <> ''
            GROUP BY token
        )
        SELECT token, n, token_id FROM (
            SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS token_id
            FROM counts
        ) WHERE token_id <= 500
    """,
    tags=("I-vocab",),
)
def vocab_top_tokens(spark, sf_dir):
    """Vocabulary construction: top-500 tokens by frequency with dense
    id assignment (count desc, token tiebreak — fully deterministic).
    The global ranking window runs on the AGGREGATED count table —
    |vocabulary| rows, not |corpus| — so the single-partition window is
    bounded by vocab size at any corpus scale."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = tokens(d).groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), "token")
    return counts.withColumn("token_id", F.row_number().over(w)).where(
        F.col("token_id") <= 500
    )


@register(
    "text_ngrams_trigram",
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), x -> x <> '') AS t
            FROM documents WHERE doc_id < 100
        ),
        tris AS (
            SELECT doc_id,
                   list_transform(range(1, len(t) - 1),
                                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS g
            FROM toks WHERE len(t) >= 3
        )
        SELECT doc_id,
               CAST(generate_subscripts(g, 1) AS INTEGER) AS pos,
               unnest(g) AS trigram
        FROM tris
    """,
    tags=("I-ngrams",),
)
def text_ngrams_trigram(spark, sf_dir):
    """Word trigram generation with positions (shingling for n-gram LMs
    and near-dup features): expression-only sequence/transform then
    posexplode — the explode is the only row amplification (×n_tokens),
    no shuffle until whatever aggregates downstream."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    base, tri = token_trigrams(d, fold_lower(F.col("text")))
    return (
        base.select("doc_id", F.posexplode(tri).alias("pos0", "trigram"))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "trigram")
    )


@register(
    "text_pii_scrub",
    oracle="""
        WITH synth AS (
            SELECT doc_id,
                   concat('contact user', CAST(doc_id AS VARCHAR),
                          '@corp.example or +1-555-', CAST(doc_id % 10000 AS VARCHAR),
                          ' re: ', substring(text, 1, 60)) AS raw
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9-]{5,}', '<PHONE>', 'g') AS scrubbed,
               len(regexp_extract_all(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS n_emails,
               len(regexp_extract_all(raw, '\\+?[0-9][0-9-]{5,}')) AS n_phones
        FROM synth
    """,
    tags=("I-pii",),
)
def text_pii_scrub(spark, sf_dir):
    """PII masking for training-data hygiene: email and phone patterns
    replaced with type tags, plus per-doc match counts. Patterns stay
    in the POSIX-common regex subset (Java ↔ RE2 safe, §7.2.7); the
    fixture plants one synthetic email + phone per doc so the scrub is
    value-checked, and the doc text tail can contribute real matches.
    Scan-fused expression work — zero shuffles at any scale."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example or +1-555-"),
        (F.col("doc_id") % 10000).cast("string"),
        F.lit(" re: "),
        F.substring("text", 1, 60),
    )
    email = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
    phone = r"\+?[0-9][0-9-]{5,}"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(raw, F.lit(email), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(phone), 0)).cast("long").alias("n_phones"),
    )


@register(
    "text_lang_profile",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT source) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*), 6)
                   AS avg_tokens_per_doc
        FROM documents
        GROUP BY lang
    """,
    tags=("I-lang",),
)
def text_lang_profile(spark, sf_dir):
    """Per-language corpus profile (the label-driven half of language
    ID; the n-gram heuristic classifier lives in llm/langid.py)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.round(
            F.sum(F.size(F.split(F.col("text"), " "))).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_tokens_per_doc"),
    )


@register(
    "text_oov_rate",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
        vocab AS (
            SELECT token FROM (
                SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS r
                FROM clean GROUP BY token
            ) WHERE r <= 20
        )
        SELECT c.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS oov_rate
        FROM clean c LEFT JOIN vocab v USING (token)
        GROUP BY c.doc_id
    """,
    tags=("I-oov",),
)
def text_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    rate against the top-20 corpus vocabulary (count desc, token
    tiebreak — the deterministic twin of ``vocab_top_tokens``'s id
    assignment).  The question every tokenizer change has to answer
    before a training run: how much of the corpus falls outside the
    vocab?

    100 TB posture: the vocab is bounded (top-K of an aggregated count
    table) and BROADCAST; the coverage probe is a map-side hash lookup
    over the token stream, so the only corpus-scale shuffle is the
    per-doc re-aggregation.  K=20 (not 500) because the synthetic
    corpus has a 31-token vocabulary — a full-cover vocab would make
    the oracle comparison vacuously all-zero.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = tokens(d)
    w = Window.orderBy(F.desc("n"), "token")
    vocab = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 20)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        t.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "text_unigram_surprisal",
    oracle="""
        WITH tok AS (
            SELECT doc_id, t AS token
            FROM documents, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS u(t)
            WHERE t <> ''
        ),
        vocab AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
        tot AS (SELECT SUM(n) AS total FROM vocab),
        surp AS (
            SELECT t.doc_id,
                   CAST(ROUND(-ln(CAST(v.n AS DOUBLE) / tot.total), 9)
                        AS DECIMAL(28, 9)) AS s
            FROM tok t JOIN vocab v ON v.token = t.token CROSS JOIN tot
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal
        FROM surp
        GROUP BY doc_id
    """,
    tags=("I-text-surprisal",),
)
def text_unigram_surprisal(spark, sf_dir):
    """Per-document mean unigram surprisal −Σ ln p(token) / n — the
    language-model-perplexity filtering proxy (CCNet-style pipelines
    drop the highest- and lowest-perplexity tails; the unigram LM
    stands in for the real LM, whose weights an engine benchmark can't
    ship).  Low score ⇒ repetitive/common tokens, high ⇒ rare-token
    soup — both discard signals.

    Float discipline: per-token surprisal is rounded to 9 dp and cast
    to DECIMAL before the per-doc sum, so the aggregation is exact and
    ORDER-FREE (a raw double sum would vary with partition order —
    policy §7.2); the mean is rounded 6 dp.  100 TB posture: the vocab
    is one token shuffle with map-side combine, broadcast back for the
    probability join; per-doc sums shuffle on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    # persisted: the token stream feeds the vocab build AND the
    # probability join — lazy eval would re-explode the corpus per
    # consumer (round-5 multi-scan plan audit)
    tok = (
        d.select("doc_id", F.explode(F.split(fold_lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .persist()
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).persist()
    tot = vocab.agg(F.sum("n").alias("total"))
    surp = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log(F.col("n").cast("double") / F.col("total")), 9)
            .cast("decimal(28,9)")
            .alias("s"),
        )
    )
    return surp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias("mean_surprisal"),
    )


#: Zipf fit: top-N vocabulary ranks per language entering the log-log
#: regression
ZIPF_TOP_N = 100


@register(
    "text_zipf_fit",
    oracle=f"""
        WITH vocab AS (
            SELECT lang, token, COUNT(*) AS freq
            FROM (
                SELECT lang, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY lang, token
        ),
        ranked AS (
            SELECT lang, freq,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY freq DESC, token
                   ) AS rnk
            FROM vocab
        ),
        pts AS (
            SELECT lang,
                   ROUND(ln(rnk), 9) AS x,
                   ROUND(ln(freq), 9) AS y
            FROM ranked WHERE rnk <= {ZIPF_TOP_N}
        ),
        stats AS (
            SELECT lang,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
            FROM pts
            GROUP BY lang
        )
        -- + 0.0 canonicalizes IEEE −0.0: a flat-frequency corpus (the
        -- ×100 md5-token fan) puts the slope AT zero, where the sign
        -- of the ~0 numerator is libm-1-ulp noise (round-14)
        SELECT lang, n,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
               ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                   + 0.0 AS intercept
        FROM stats
    """,
    tags=("I-zipf",),
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit per language: slope of log(freq) vs log(rank)
    over the top-100 vocabulary — the corpus-health diagnostic (natural
    text sits near slope −1; templated/synthetic text flattens, spam
    steepens).

    Determinism: logs are transcendental, so unlike agg_regression_trend
    the regression inputs can't be exact — instead each log is quantized
    to 9 dp (identical doubles in, identical doubles out; engine-libm
    ulp disagreement would need to land within 1e-7 of a quantization
    boundary to surface), every product is re-quantized and summed as
    DECIMAL(28,9) — order-free — and the closed forms are single double
    expressions of those exact sums.  Shape: one vocab aggregate, a
    per-language top-N window (WindowGroupLimit), and a tiny final
    aggregate — the rank window is the only sort and it runs on the
    already-aggregated vocab, not the token stream."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select("lang", F.explode(F.split(fold_lower("text"), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "token")
    pts = (
        vocab.select("lang", "freq", "token", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= ZIPF_TOP_N)
        .select(
            "lang",
            F.round(F.log(F.col("rnk").cast("double")), 9).alias("x"),
            F.round(F.log(F.col("freq").cast("double")), 9).alias("y"),
        )
    )

    def dsum(c):
        return F.sum(F.round(c, 9).cast("decimal(28,9)")).cast("double")

    n = F.count(F.lit(1))
    sx = dsum(F.col("x"))
    sy = dsum(F.col("y"))
    sxy = dsum(F.col("x") * F.col("y"))
    sxx = dsum(F.col("x") * F.col("x"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return pts.groupBy("lang").agg(
        n.alias("n"),
        # + 0.0 canonicalizes IEEE −0.0 at the flat-corpus zero slope
        (F.round(slope, 6) + 0.0).alias("zipf_slope"),
        (F.round((sy - slope * sx) / n, 6) + 0.0).alias("intercept"),
    )


#: PMI collocations: minimum pair count to enter scoring, and the
#: report's size cap
PMI_MIN_COUNT = 5
PMI_TOP_K = 50


@register(
    "text_pmi_bigrams",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, replace(lower(text), 'i' || chr(775), 'i') AS text FROM documents
        ),
        unigrams AS (
            SELECT token, COUNT(*) AS c1
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM toks)
            WHERE token <> ''
            GROUP BY token
        ),
        n_tok AS (SELECT SUM(c1) AS n FROM unigrams),
        bigrams AS (
            SELECT w1, w2, COUNT(*) AS c12
            FROM (
                SELECT t.parts[i] AS w1, t.parts[i + 1] AS w2
                FROM (SELECT string_split(text, ' ') AS parts FROM toks) t,
                     LATERAL (SELECT unnest(generate_series(1, len(t.parts) - 1)) AS i)
                WHERE t.parts[i] <> '' AND t.parts[i + 1] <> ''
            )
            GROUP BY w1, w2
            HAVING COUNT(*) >= {PMI_MIN_COUNT}
        )
        SELECT w1, w2, c12,
               ROUND(ln(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE)
                        / (CAST(u1.c1 AS DOUBLE) * CAST(u2.c1 AS DOUBLE))), 6) AS pmi
        FROM bigrams b
        JOIN unigrams u1 ON u1.token = b.w1
        JOIN unigrams u2 ON u2.token = b.w2
        CROSS JOIN n_tok
        ORDER BY pmi DESC, w1, w2
        LIMIT {PMI_TOP_K}
    """,
    tags=("I-pmi",),
)
def text_pmi_bigrams(spark, sf_dir):
    """Collocation extraction: top bigrams by pointwise mutual
    information, PMI = ln(c₁₂·N / (c₁·c₂)) — the phrase-mining /
    tokenizer-vocab-candidate pass of corpus analysis (high-PMI pairs
    are multiword units worth a single token).

    Bigrams come from zipping each doc's token array with its shift
    (``transform(sequence)`` over the array — expression-only, no
    UDTF); unigram totals broadcast into the scoring join.  The
    lazy plan re-derives the unigram aggregate for each of its three
    consumers (u1, u2, N) — free at fixture scale; at 100 TB stage the
    tokenized/aggregated vocab once (same persisted-invariant pattern
    as operators/pagerank.py's edge cache) so the corpus is scanned
    once, not three times.  The PMI
    argument is a ratio of exact integer counts — one identical double
    in both engines — so a single ln + ROUND(,6) is the only float
    step, and ranking orders on the ROUNDED value with the bigram as
    tiebreak (policy §7.2).  Min-count 5 prunes the long tail
    before the join; at 100 TB that HAVING is what keeps the
    bigram table join-able (plus hash-bucketing the bigram key)."""
    d = load_table(spark, sf_dir, "documents").select(fold_lower("text").alias("text"))
    toks = d.select(F.split("text", " ").alias("parts"))
    unigrams = (
        toks.select(F.explode("parts").alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()  # feeds u1, u2 AND the corpus total — one pass, not three
    )
    n_tok = unigrams.agg(F.sum("c1").alias("n"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(parts, 1, greatest(size(parts) - 1, 0)), "
                "slice(parts, 2, greatest(size(parts) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bigrams = (
        pairs.where((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= PMI_MIN_COUNT)
    )
    u1 = unigrams.select(F.col("token").alias("w1"), F.col("c1").alias("u1c"))
    u2 = unigrams.select(F.col("token").alias("w2"), F.col("c1").alias("u2c"))
    pmi = F.round(
        F.log(
            F.col("c12").cast("double")
            * F.col("n").cast("double")
            / (F.col("u1c").cast("double") * F.col("u2c").cast("double"))
        ),
        6,
    )
    return (
        bigrams.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


@register(
    "text_keyword_topk",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM toks WHERE token <> '' GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df
            FROM toks WHERE token <> '' GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   ROUND(tf.tf * ROUND(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6), 6)
                       AS tfidf
            FROM tf JOIN df USING (token) CROSS JOIN n
        )
        SELECT doc_id, token, tfidf, rank
        FROM (
            SELECT doc_id, token, tfidf,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, token
                   ) AS rank
            FROM scored
        )
        WHERE rank <= 5
    """,
    tags=("I-keywords",),
)
def text_keyword_topk(spark, sf_dir):
    """Keyword extraction: each document's top-5 terms by TF-IDF —
    the per-doc summary/tagging pass built on the text_tfidf_sql
    pipeline plus one WindowGroupLimit top-k (rank on the ROUNDED
    score with the token as tiebreak, policy §7.2).  The ranking
    window partitions by doc_id — same key as the TF aggregate, so
    top-k adds no new exchange over the scoring join."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(d)
    # same one-pass TF→DF derivation as text_tfidf_sql
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(
        F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0), 6
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", F.round(F.col("tf") * idf, 6).alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.select(
        "*", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= 5)


@register(
    "text_bigram_surprisal",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), x -> x <> '') AS t
            FROM documents
        ),
        vocab_n AS (
            SELECT COUNT(DISTINCT u.tok) AS v
            FROM toks, unnest(t) AS u(tok)
        ),
        uni AS (
            SELECT u.tok AS w1, COUNT(*) AS c1
            FROM toks, unnest(t) AS u(tok)
            GROUP BY u.tok
        ),
        bigrams AS (
            SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
            FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
            WHERE len(t) >= 2
        ),
        bi AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
        ),
        scored AS (
            SELECT g.doc_id,
                   CAST(ROUND(-ln((CAST(b.c12 AS DOUBLE) + 1.0)
                                  / (CAST(u.c1 AS DOUBLE) + CAST(v.v AS DOUBLE))), 9)
                        AS DECIMAL(28, 9)) AS s
            FROM bigrams g
            JOIN bi b USING (w1, w2)
            JOIN uni u USING (w1)
            CROSS JOIN vocab_n v
        )
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_surprisal
        FROM scored
        GROUP BY doc_id
    """,
    tags=("I-text-bigram-surprisal",),
)
def text_bigram_surprisal(spark, sf_dir):
    """Per-document mean BIGRAM surprisal −Σ ln p(w₂|w₁)/n with add-one
    smoothing — the next rung of the perplexity-proxy ladder above
    text_unigram_surprisal: conditional probabilities punish unusual
    token SEQUENCES (word salad, shuffled text) that unigram
    frequencies can't see — exactly what token-reordering dedup plants
    exploit.  Same float discipline as the unigram key: each surprisal
    rounds at 9 dp and sums as DECIMAL (order-free), the per-doc mean
    rounds at 6.  The bigram table is the corpus-level LM 'training'
    (one aggregate, map-side combined); scoring joins it back
    broadcast.  At 100 TB, threshold the bigram table by min-count
    (text_pmi_bigrams' HAVING) and back off to unigram for the tail."""
    d = load_table(spark, sf_dir, "documents")
    # filter empties BEFORE pairing, exactly like the oracle's
    # list_filter — pairing the raw split would bridge across a
    # removed empty token differently
    # persisted: the tokenized corpus feeds both the unigram build and
    # the bigram pairing; the bigram stream feeds both its count table
    # and the scoring join — unpersisted, each reference re-explodes
    # the corpus (4 scans; round-5 multi-scan plan audit)
    toks = d.select(
        "doc_id",
        F.filter(F.split(fold_lower("text"), " "), lambda x: x != "").alias("parts"),
    ).persist()
    uni = (
        toks.select(F.explode("parts").alias("tok"))
        .groupBy(F.col("tok").alias("w1"))
        .agg(F.count(F.lit(1)).alias("c1"))
        .persist()
    )
    # |vocab| derives from the unigram table (one row per distinct
    # token) — no second pass over the token stream
    vocab_n = uni.agg(F.count(F.lit(1)).alias("v"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(parts, 1, greatest(size(parts) - 1, 0)), "
                "slice(parts, 2, greatest(size(parts) - 1, 0)), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")).persist()
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bigrams.join(F.broadcast(bi), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.col("c12").cast("double") + F.lit(1.0))
                    / (F.col("c1").cast("double") + F.col("v").cast("double"))
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("s").cast("double") / F.count(F.lit(1)), 6).alias("mean_surprisal"),
    )


@register(
    "text_readability_flesch",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   len(list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), x -> x <> ''))
                       AS n_words,
                   greatest(len(list_filter(
                       regexp_split_to_array(text, '[.!?]+'),
                       s -> trim(s, ' ') <> '')), 1) AS n_sentences,
                   len(list_filter(
                       regexp_split_to_array(replace(lower(text), 'i' || chr(775), 'i'), '[^aeiouy]+'),
                       s -> s <> '')) AS n_vowel_groups
            FROM documents
        )
        SELECT doc_id, n_words, n_sentences, n_vowel_groups,
               ROUND(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_vowel_groups AS DOUBLE) / n_words), 6)
                   AS flesch_score
        FROM base
        WHERE n_words > 0
    """,
    tags=("I-readability",),
)
def text_readability_flesch(spark, sf_dir):
    """Flesch reading-ease per document — the readability axis of
    quality filtering (text_quality_score covers length/stopword
    hygiene; this scores sentence and word complexity).  Syllables are
    approximated by vowel-group runs (the standard cheap proxy — a
    real syllabifier is a dictionary lookup, not an engine feature)
    and sentences by [.!?]+ runs with blank fragments dropped; all
    three counts are exact integers from one regexp pass, so the score
    is a fixed double expression — bit-identical cross-engine.  Pure
    per-row expressions: scales as a map, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split(fold_lower("text"), " "), lambda x: x != ""))
    n_sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != ""
            )
        ),
        F.lit(1),
    )
    n_vowel_groups = F.size(
        F.filter(F.split(fold_lower("text"), r"[^aeiouy]+"), lambda s: s != "")
    )
    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_vowel_groups.alias("n_vowel_groups"),
    ).where(F.col("n_words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_vowel_groups").cast("double") / F.col("n_words"))
    )
    return base.select("*", F.round(score, 6).alias("flesch_score"))


@register(
    "text_html_strip",
    oracle="""
        WITH wrapped AS (
            SELECT doc_id, text,
                   '<p id="d' || CAST(doc_id AS VARCHAR) || '"><b>'
                       || regexp_replace(text, ' ', '</b> <b>', 'g')
                       || '</b></p>' AS html
            FROM documents
        )
        SELECT doc_id,
               strlen(html) AS n_html_bytes,
               trim(regexp_replace(regexp_replace(html, '<[^>]*>', '', 'g'),
                    ' +', ' ', 'g'), ' ') AS cleaned,
               (trim(regexp_replace(regexp_replace(html, '<[^>]*>', '', 'g'),
                    ' +', ' ', 'g'), ' ') = text) AS roundtrip_ok
        FROM wrapped
    """,
    tags=("I-html-strip",),
)
def text_html_strip(spark, sf_dir):
    """HTML boilerplate stripping — the first operator every web-crawl
    curation pipeline runs: markup is removed with the tag regexp
    (``<[^>]*>``), whitespace re-collapsed, and the result compared
    against the pre-markup ground truth.  The corpus has no HTML, so
    both engines WRAP each document in deterministic markup first
    (a div/bold structure derived from the doc itself) — making the
    strip verifiable: ``roundtrip_ok`` must be universally true, and
    the oracle checks the cleaned TEXT value byte-for-byte, not just
    a length.

    100 TB posture: expression-only regexp work inside whole-stage
    codegen — embarrassingly parallel, no UDF, no DOM parse (a real
    HTML5 parser is the Arrow-UDF escape hatch when crawl data needs
    entity/script handling; the regexp tier is the cheap first pass
    that handles the bulk)."""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p id="d'),
        F.col("doc_id").cast("string"),
        F.lit('"><b>'),
        F.regexp_replace("text", " ", "</b> <b>"),
        F.lit("</b></p>"),
    )
    wrapped = d.select("doc_id", "text", html.alias("html"))
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace("html", "<[^>]*>", ""), " +", " ")
    )
    return wrapped.select(
        "doc_id",
        F.octet_length("html").alias("n_html_bytes"),
        cleaned.alias("cleaned"),
        (cleaned == F.col("text")).alias("roundtrip_ok"),
    )


@register(
    "vocab_coverage_curve",
    oracle="""
        WITH counts AS (
            SELECT token, COUNT(*) AS n
            FROM (SELECT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
                  FROM documents) t
            WHERE token <> ''
            GROUP BY token
        ),
        ranked AS (
            SELECT token, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rnk,
                   SUM(n) OVER (ORDER BY n DESC, token
                                ROWS UNBOUNDED PRECEDING) AS cum_n,
                   SUM(n) OVER () AS total_n
            FROM counts
        )
        SELECT CAST(rnk AS INT) AS vocab_size,
               token AS last_token,
               CAST(cum_n AS BIGINT) AS tokens_covered,
               ROUND(CAST(cum_n AS DOUBLE) / total_n, 6) AS coverage
        FROM ranked
        WHERE rnk <= 50
    """,
    tags=("I-vocab-coverage",),
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of all corpus tokens
    the top-k vocabulary explains, for each k — the tokenizer-design
    chart that sets vocab size (the knee of this curve) and predicts
    the OOV rate any truncated vocabulary buys (text_oov_rate is one
    point on it).  A running sum over the frequency-ranked vocab
    turns the whole curve into one window pass; rank ties pin on the
    token (policy §7.2.3).

    100 TB posture: identical bound to vocab_top_tokens — the global
    ranking window runs on the AGGREGATED count table (|vocabulary|
    rows, not |corpus|), so the single-partition window is bounded by
    vocab size at any corpus scale; the token-count aggregation
    beneath it gets map-side combine."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = tokens(d).groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), "token")
    ranked = counts.select(
        "token",
        "n",
        F.row_number().over(w).alias("rnk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum_n"),
        F.sum("n").over(Window.partitionBy()).alias("total_n"),
    )
    return ranked.where(F.col("rnk") <= 50).select(
        F.col("rnk").cast("int").alias("vocab_size"),
        F.col("token").alias("last_token"),
        F.col("cum_n").cast("bigint").alias("tokens_covered"),
        F.round(F.col("cum_n").cast("double") / F.col("total_n"), 6).alias("coverage"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), x -> x <> '') AS t
            FROM documents
        ),
        tris AS (
            SELECT DISTINCT doc_id, token
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(t) - 1),
                                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS token
                  FROM toks WHERE len(t) >= 3) g
        ),
        dfreq AS (SELECT token, COUNT(*) AS df FROM tris GROUP BY token)
        SELECT t.doc_id,
               COUNT(*) AS n_trigrams,
               CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel,
               ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS novelty_rate
        FROM tris t JOIN dfreq d USING (token)
        GROUP BY t.doc_id
    """,
    tags=("I-novelty",),
)
def text_ngram_novelty(spark, sf_dir):
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct trigrams that appear in NO other document (df = 1) —
    high novelty marks original content worth keeping; low novelty
    marks template/boilerplate documents even when no single pair
    crosses a dedup threshold (the corpus-level complement of the
    pairwise dedup family, and the diversity metric data-mixture
    tuning reads).  The trigram document frequencies are ONE shingle
    pass (persisted — the same frame feeds the df aggregate and the
    per-doc scoring join).

    100 TB posture: two hash aggregations + one equi-join on the
    shingle key with map-side combine everywhere; no pair joins at
    all, so no DF ceiling is even needed — cost is linear in corpus
    shingle volume."""
    d = load_table(spark, sf_dir, "documents")
    base, tri = token_trigrams(d, fold_lower("text"))
    tris = (
        base.select("doc_id", F.explode(tri).alias("token"))
        .distinct()
        .persist()
    )
    dfreq = tris.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        tris.join(F.broadcast(dfreq), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            novel.cast("bigint").alias("n_novel"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias("novelty_rate"),
        )
    )


@register(
    "vocab_bpe_pair_counts",
    oracle="""
        WITH words AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS word
                FROM documents
            )
            WHERE word <> ''
            GROUP BY word
        ),
        pairs AS (
            SELECT substr(word, i, 2) AS pair, freq
            FROM words, unnest(range(1, length(word))) AS u(i)
        ),
        counted AS (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
            FROM pairs GROUP BY pair
        )
        SELECT pair, n, rank FROM (
            SELECT pair, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
            FROM counted
        ) WHERE rank <= 20
    """,
    tags=("I-bpe",),
)
def vocab_bpe_pair_counts(spark, sf_dir):
    """The first decision of BPE tokenizer training: corpus-weighted
    adjacent-symbol pair counts at the character level — the pair with
    the highest count is merge #1, and iterating this exact query
    (with the winning pair fused into the symbol stream) IS the BPE
    training loop.  One pass builds the word-frequency table (the
    standard BPE compression: pairs are counted once per distinct
    word, weighted by frequency, never once per corpus occurrence),
    one expression-only explode enumerates each word's adjacent
    pairs, one hash aggregate sums weights, and a top-20
    (count, pair)-ranked report comes out.

    100 TB posture: the word-frequency rollup shrinks the pair-count
    input from |corpus tokens| to |vocabulary| — the only frame the
    merge loop ever re-touches, which is why production BPE trainers
    keep exactly this (word, freq) table as their working set; the
    pair explosion is bounded by Σ word lengths over the VOCABULARY,
    and the global top-20 is a TakeOrderedAndProject merge, no full
    sort."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(fold_lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # positions 1..len-1 via an exploded sequence.  The length filter is
    # load-bearing: Spark's sequence(1, 0) generates a DESCENDING [1, 0]
    # for 1-char words (DuckDB's range(1, 1) is empty), which would
    # fabricate phantom pairs.
    pairs = (
        words.where(F.length("word") >= 2)
        .select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").cast("bigint").alias("n"))
    from pyspark.sql import Window

    wk = Window.orderBy(F.col("n").desc(), "pair")
    return (
        counted.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= 20)
        .select("pair", "n", "rank")
    )


#: RAKE stopword delimiters present in the synthetic corpus
RAKE_STOPS = ("a", "the", "and", "of", "is", "to", "in")

#: candidate keyphrase length cap (standard RAKE practice)
RAKE_MAX_LEN = 3


@register(
    "text_rake_keyphrases",
    oracle=f"""
        WITH marked AS (
            SELECT doc_id,
                   array_to_string(
                       list_transform(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '),
                           t -> CASE WHEN t IN ({", ".join(f"'{s}'" for s in RAKE_STOPS)})
                                     THEN '|' ELSE t END),
                       ' ') AS m
            FROM documents
        ),
        phrases AS (
            SELECT trim(p, ' ') AS phrase
            FROM marked, unnest(string_split(m, '|')) AS t(p)
            WHERE trim(p, ' ') <> ''
              AND len(string_split(trim(p, ' '), ' ')) <= {RAKE_MAX_LEN}
        ),
        occur AS (
            SELECT phrase, len(string_split(phrase, ' ')) AS plen
            FROM phrases
        ),
        words AS (
            SELECT w, plen
            FROM occur, unnest(string_split(phrase, ' ')) AS t(w)
        ),
        wstats AS (
            SELECT w,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(plen) AS BIGINT) AS degree,
                   CAST(ROUND(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 6)
                        AS DECIMAL(18,6)) AS wscore
            FROM words GROUP BY w
        ),
        pdistinct AS (
            SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM occur GROUP BY phrase
        ),
        pscore AS (
            SELECT p.phrase, p.n_occ,
                   CAST(SUM(ws.wscore) AS DECIMAL(28,6)) AS score_dec
            FROM pdistinct p,
                 unnest(string_split(p.phrase, ' ')) AS t(w)
            JOIN wstats ws ON ws.w = t.w
            GROUP BY p.phrase, p.n_occ
        )
        SELECT phrase, n_occ, CAST(score_dec AS DOUBLE) AS rake_score
        FROM pscore
        ORDER BY score_dec DESC, phrase
        LIMIT 20
    """,
    tags=("I-rake",),
)
def text_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010) — the phrase-level
    keyword surface next to ``text_keyword_topk``'s TF-IDF unigrams:
    candidate phrases are maximal stopword-free token runs (capped at
    {RAKE_MAX_LEN} tokens), each word scores degree/freq over the
    phrase co-occurrence graph, and a phrase scores the sum of its
    member word scores; corpus-level top-20.

    Determinism: freq/degree are exact integers; each word score is
    round(degree/freq, 6) cast DECIMAL, so phrase scores are exact
    decimal sums ranked with the phrase-text tiebreak — no float
    ordering anywhere.

    100 TB posture: two explodes (phrases, then words) feeding hash
    aggregations with map-side combine; the word-stats frame is
    vocabulary-sized and broadcasts into the phrase scoring join; the
    top-20 is a TakeOrderedAndProject merge.  The stopword set is a
    literal array — swap in a per-language broadcast list at
    production scale, same plan."""
    stops = F.array(*[F.lit(s) for s in RAKE_STOPS])
    d = load_table(spark, sf_dir, "documents")
    marked = d.select(
        F.array_join(
            F.transform(
                F.split(fold_lower("text"), " "),
                lambda t: F.when(F.array_contains(stops, t), F.lit("|")).otherwise(t),
            ),
            " ",
        ).alias("m")
    )
    phrases = marked.select(
        F.explode(
            F.filter(
                F.transform(F.split("m", "\\|"), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("phrase")
    ).where(F.size(F.split("phrase", " ")) <= RAKE_MAX_LEN)
    occur = phrases.select("phrase", F.size(F.split("phrase", " ")).alias("plen")).persist()
    words = occur.select(F.explode(F.split("phrase", " ")).alias("w"), "plen")
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
        F.round(F.sum("plen").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(18,6)")
        .alias("wscore"),
    )
    pdistinct = occur.groupBy("phrase").agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    pwords = pdistinct.select(
        "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("w")
    )
    pscore = (
        pwords.join(F.broadcast(wstats.select("w", "wscore")), "w")
        .groupBy("phrase", "n_occ")
        .agg(F.sum("wscore").cast("decimal(28,6)").alias("score_dec"))
    )
    return (
        pscore.orderBy(F.col("score_dec").desc(), "phrase")
        .limit(20)
        .select("phrase", "n_occ", F.col("score_dec").cast("double").alias("rake_score"))
    )


@register(
    "text_gopher_quality_gate",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   list_filter(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' '), t -> t <> '') AS toks
            FROM documents
        ),
        doc AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
                       AS sum_len,
                   CAST(len(list_filter(toks,
                       t -> list_contains(['the','a','of','and','to','in','is'], t)))
                       AS BIGINT) AS n_stop
            FROM base
        ),
        tc AS (
            SELECT doc_id, tk, COUNT(*) AS c FROM (
                SELECT doc_id, unnest(toks) AS tk FROM base
            ) GROUP BY doc_id, tk
        ),
        mx AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tok FROM tc GROUP BY doc_id)
        SELECT d.doc_id, d.n_words,
               d.sum_len / CAST(d.n_words AS DOUBLE) AS mean_word_len,
               d.n_stop / CAST(d.n_words AS DOUBLE) AS stop_frac,
               m.max_tok / CAST(d.n_words AS DOUBLE) AS max_tok_frac,
               (d.n_words BETWEEN 10 AND 500) AS rule_len,
               (d.sum_len / CAST(d.n_words AS DOUBLE) BETWEEN 2 AND 12) AS rule_word_len,
               (d.n_stop / CAST(d.n_words AS DOUBLE) >= 0.03) AS rule_stopwords,
               (m.max_tok / CAST(d.n_words AS DOUBLE) <= 0.25) AS rule_repetition,
               ((d.n_words BETWEEN 10 AND 500)
                AND (d.sum_len / CAST(d.n_words AS DOUBLE) BETWEEN 2 AND 12)
                AND (d.n_stop / CAST(d.n_words AS DOUBLE) >= 0.03)
                AND (m.max_tok / CAST(d.n_words AS DOUBLE) <= 0.25)) AS gate_pass
        FROM doc d JOIN mx m ON d.doc_id = m.doc_id
    """,
    tags=("I-quality",),
)
def text_gopher_quality_gate(spark, sf_dir):
    """Gopher/MassiveText-style rule gate for training-data curation:
    word-count bounds, mean-word-length band, minimum stopword
    fraction, and a max-single-token-frequency repetition cap, each
    emitted as a flag plus the combined pass verdict.  Thresholds
    compare IEEE-identical divisions of exact integer counts, so the
    booleans are engine-exact (policy §7.2 — no rounding enters a
    comparison).  Two branches over one tokenization: per-doc scalars
    stay expression-only; the token-mode branch is an explode +
    (doc, token) hash aggregate — both shuffle on doc_id only, the
    same single-key shape the rest of the text family scales on."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(fold_lower(F.col("text")), " "), lambda t: t != "")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to", "in", "is")])
    doc = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
        .alias("sum_len"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        .cast("bigint")
        .alias("n_stop"),
    )
    mx = (
        tokens(d)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("max_tok"))
    )
    j = doc.join(mx, "doc_id")
    mean_wl = F.col("sum_len") / F.col("n_words").cast("double")
    stop_frac = F.col("n_stop") / F.col("n_words").cast("double")
    max_frac = F.col("max_tok") / F.col("n_words").cast("double")
    r_len = F.col("n_words").between(10, 500)
    r_wl = (mean_wl >= 2) & (mean_wl <= 12)
    r_stop = stop_frac >= 0.03
    r_rep = max_frac <= 0.25
    return j.select(
        "doc_id",
        "n_words",
        mean_wl.alias("mean_word_len"),
        stop_frac.alias("stop_frac"),
        max_frac.alias("max_tok_frac"),
        r_len.alias("rule_len"),
        r_wl.alias("rule_word_len"),
        r_stop.alias("rule_stopwords"),
        r_rep.alias("rule_repetition"),
        (r_len & r_wl & r_stop & r_rep).alias("gate_pass"),
    )


@register(
    "text_lang_distribution_tv",
    oracle="""
        WITH tc AS (
            SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM (
                SELECT lang, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
                FROM documents
            ) WHERE token <> ''
            GROUP BY lang, token
        ),
        tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY lang),
        pairs AS (
            SELECT a.lang AS la, b.lang AS lb
            FROM tot a JOIN tot b ON a.lang < b.lang
        ),
        left_ AS (
            SELECT p.la, p.lb, t.token, t.c AS ca
            FROM pairs p JOIN tc t ON t.lang = p.la
        ),
        right_ AS (
            SELECT p.la, p.lb, t.token, t.c AS cb
            FROM pairs p JOIN tc t ON t.lang = p.lb
        ),
        merged AS (
            SELECT COALESCE(l.la, r.la) AS la, COALESCE(l.lb, r.lb) AS lb,
                   COALESCE(l.ca, 0) AS ca, COALESCE(r.cb, 0) AS cb
            FROM left_ l
            FULL OUTER JOIN right_ r
              ON l.la = r.la AND l.lb = r.lb AND l.token = r.token
        )
        SELECT m.la AS lang_a, m.lb AS lang_b,
               ta.n AS n_tokens_a, tb.n AS n_tokens_b,
               ROUND(SUM(ABS(m.ca * tb.n - m.cb * ta.n))
                     / (2.0 * ta.n * tb.n), 6) AS tv_distance
        FROM merged m
        JOIN tot ta ON ta.lang = m.la
        JOIN tot tb ON tb.lang = m.lb
        GROUP BY m.la, m.lb, ta.n, tb.n
    """,
    tags=("I-distribution",),
)
def text_lang_distribution_tv(spark, sf_dir):
    """Total-variation distance between every pair of language unigram
    distributions — the corpus-drift / domain-shift comparison that
    needs no logarithms: TV(P,Q) = ½ Σ |p_i − q_i| evaluates EXACTLY
    as Σ |c_i·n_Q − d_i·n_P| / (2·n_P·n_Q), integer cross-products
    summed before a single final division.  Missing tokens enter
    through a per-pair full outer join on the (pair, token) key.

    Scale shape: one tokenization, one (lang, token) aggregate, then
    joins keyed on token with pair fan-out bounded by |langs|² — at
    100 TB the pair grid stays tiny while the token frames shuffle
    once each."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(F.split(fold_lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = tc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n")).persist()
    ta, tb = tot.alias("ta"), tot.alias("tb")
    pairs = ta.join(tb, F.col("ta.lang") < F.col("tb.lang")).select(
        F.col("ta.lang").alias("la"), F.col("tb.lang").alias("lb")
    )
    left = (
        F.broadcast(pairs)
        .join(tc, tc.lang == F.col("la"))
        .select("la", "lb", "token", F.col("c").alias("ca"))
    )
    right = (
        F.broadcast(pairs)
        .join(tc, tc.lang == F.col("lb"))
        .select(
            F.col("la").alias("rla"),
            F.col("lb").alias("rlb"),
            F.col("token").alias("rtoken"),
            F.col("c").alias("cb"),
        )
    )
    merged = left.join(
        right,
        (F.col("la") == F.col("rla"))
        & (F.col("lb") == F.col("rlb"))
        & (F.col("token") == F.col("rtoken")),
        "full_outer",
    ).select(
        F.coalesce(F.col("la"), F.col("rla")).alias("la"),
        F.coalesce(F.col("lb"), F.col("rlb")).alias("lb"),
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    na = tot.select(F.col("lang").alias("la2"), F.col("n").alias("n_a"))
    nb = tot.select(F.col("lang").alias("lb2"), F.col("n").alias("n_b"))
    j = (
        merged.join(F.broadcast(na), F.col("la") == F.col("la2"))
        .join(F.broadcast(nb), F.col("lb") == F.col("lb2"))
    )
    return (
        j.groupBy(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            F.col("n_a").alias("n_tokens_a"),
            F.col("n_b").alias("n_tokens_b"),
        )
        .agg(
            F.round(
                F.sum(F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")))
                / (2.0 * F.col("n_a") * F.col("n_b")),
                6,
            ).alias("tv_distance")
        )
    )


@register(
    "vocab_bpe_one_merge",
    oracle="""
        WITH words AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS word
                FROM documents
            )
            WHERE word <> ''
            GROUP BY word
        ),
        pairs AS (
            SELECT substr(word, i, 2) AS pair, freq
            FROM words, unnest(range(1, length(word))) AS u(i)
        ),
        counted AS (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
            FROM pairs GROUP BY pair
        ),
        top1 AS (
            SELECT pair AS mp, n AS mn FROM counted
            ORDER BY n DESC, pair LIMIT 1
        ),
        merged AS (
            SELECT replace(word, mp, '1') AS word, CAST(SUM(freq) AS BIGINT) AS freq
            FROM words CROSS JOIN top1
            GROUP BY 1
        ),
        pairs2 AS (
            SELECT substr(word, i, 2) AS pair, freq
            FROM merged, unnest(range(1, length(word))) AS u(i)
        ),
        counted2 AS (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
            FROM pairs2 GROUP BY pair
        )
        SELECT (SELECT mp FROM top1) AS merged_pair,
               (SELECT mn FROM top1) AS merged_count,
               pair, n, rank
        FROM (
            SELECT pair, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
            FROM counted2
        ) WHERE rank <= 10
    """,
    tags=("I-bpe",),
)
def vocab_bpe_one_merge(spark, sf_dir):
    """ONE full iteration of BPE training on top of
    vocab_bpe_pair_counts: find the most frequent adjacent symbol
    pair (count-desc, pair-asc determinism), FUSE it into the symbol
    stream of every vocabulary word (string replace — the same
    leftmost-non-overlapping greedy both engines implement), re-merge
    the now-collapsed vocabulary, and recount pairs — emitting the
    post-merge top-10 pair table, i.e. the input to merge #2.
    Iterating this key IS the training loop.

    100 TB posture: the working set never regrows past |vocabulary| —
    the merge is an expression map over the (word, freq) table with
    the 1-row winner broadcast, then the SAME bounded pair-count
    shape; the corpus is touched once, in the initial word rollup.
    This is exactly why production BPE trainers iterate on the
    word-frequency table, not the corpus."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(fold_lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .persist()  # feeds pair count AND the merge map
    )

    def pair_counts(w):
        return (
            w.where(F.length("word") >= 2)
            .select(
                "word",
                "freq",
                F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            )
            .select(F.expr("substring(word, i, 2)").alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("n"))
        )

    top1 = (
        pair_counts(words)
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select(F.col("pair").alias("mp"), F.col("n").alias("mn"))
    )
    merged = (
        words.crossJoin(F.broadcast(top1))
        .select(F.expr("replace(word, mp, '1')").alias("word"), "freq", "mp", "mn")
        .groupBy("word", "mp", "mn")
        .agg(F.sum("freq").cast("bigint").alias("freq"))
    )
    counted2 = (
        merged.where(F.length("word") >= 2)
        .select(
            "word",
            "freq",
            "mp",
            "mn",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
        )
        .select(F.expr("substring(word, i, 2)").alias("pair"), "freq", "mp", "mn")
        .groupBy("pair", "mp", "mn")
        .agg(F.sum("freq").cast("bigint").alias("n"))
    )
    wk = Window.orderBy(F.col("n").desc(), "pair")
    return (
        counted2.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= 10)
        .select(
            F.col("mp").alias("merged_pair"),
            F.col("mn").alias("merged_count"),
            "pair",
            "n",
            "rank",
        )
    )


#: Heaps'-law checkpoints: the corpus in doc_id-order deciles
HEAPS_B = 10


def _heaps_cums(pfx: str) -> list[str]:
    """Fixed-order cumulative-sum expressions over the decile counters
    (exact integer adds, identical association in both engines)."""
    return [
        "(" + " + ".join(f"{pfx}{j}" for j in range(i + 1)) + ")" for i in range(HEAPS_B)
    ]


def _heaps_fit_sql() -> str:
    n_ = _heaps_cums("tb")
    v_ = _heaps_cums("vb")
    xs = [f"ln(CAST({e} AS DOUBLE))" for e in n_]
    ys = [f"ln(CAST({e} AS DOUBLE))" for e in v_]
    sx = " + ".join(xs)
    sy = " + ".join(ys)
    sxx = " + ".join(f"({x}) * ({x})" for x in xs)
    sxy = " + ".join(f"({x}) * ({y})" for x, y in zip(xs, ys))
    return f"""
        SELECT CAST({HEAPS_B} AS BIGINT) AS n_points,
               CAST({n_[-1]} AS BIGINT) AS tokens_total,
               CAST({v_[-1]} AS BIGINT) AS vocab_total,
               ROUND(({HEAPS_B}.0 * ({sxy}) - ({sx}) * ({sy}))
                     / ({HEAPS_B}.0 * ({sxx}) - ({sx}) * ({sx})), 6) AS heaps_beta,
               ROUND((({sy}) - (({HEAPS_B}.0 * ({sxy}) - ({sx}) * ({sy}))
                                / ({HEAPS_B}.0 * ({sxx}) - ({sx}) * ({sx}))) * ({sx}))
                     / {HEAPS_B}.0, 6) AS heaps_log_k
        FROM wide
    """


@register(
    "text_heaps_law_fit",
    oracle=f"""
        WITH bounds AS (
            SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
        ),
        toks AS (
            SELECT LEAST((doc_id - lo) * {HEAPS_B} // (hi - lo + 1), {HEAPS_B - 1}) AS b,
                   word
            FROM (
                SELECT doc_id, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS word
                FROM documents
            ), bounds
            WHERE word <> ''
        ),
        tb AS (
            SELECT {", ".join(f"CAST(SUM(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS BIGINT) AS tb{i}" for i in range(HEAPS_B))}
            FROM toks
        ),
        firsts AS (SELECT word, MIN(b) AS fb FROM toks GROUP BY word),
        vb AS (
            SELECT {", ".join(f"CAST(SUM(CASE WHEN fb = {i} THEN 1 ELSE 0 END) AS BIGINT) AS vb{i}" for i in range(HEAPS_B))}
            FROM firsts
        ),
        wide AS (SELECT * FROM tb CROSS JOIN vb)
        {_heaps_fit_sql()}
    """,
    tags=("I-corpus",),
)
def text_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit V = k·N^beta for the corpus in doc_id order:
    cumulative token count N and cumulative distinct-vocabulary size V
    at {HEAPS_B} decile checkpoints, then an OLS fit of ln V on ln N —
    the growth curve that sizes tokenizer vocabularies and predicts
    how much NEW vocabulary another 10× of corpus will bring.  V at a
    checkpoint needs no per-checkpoint distinct pass: a token is new
    exactly at its FIRST bucket (min-bucket per word), so one
    aggregate per side yields all {HEAPS_B} counters; cumulative sums
    and the 10-point regression are fixed-order expressions (the
    stats_anova_oneway pivot-to-columns discipline), so no float ever
    crosses an aggregation.

    100 TB posture: two map-side-combined aggregates over the token
    stream (one direct, one on the |vocabulary| first-occurrence
    frame) — the decile grid widens counters, never scans."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    toks = (
        d.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(
                    (F.col("doc_id") - F.col("lo"))
                    * HEAPS_B
                    / (F.col("hi") - F.col("lo") + 1)
                ),
                F.lit(HEAPS_B - 1),
            )
            .cast("bigint")
            .alias("b"),
            F.explode(F.split(fold_lower("text"), " ")).alias("word"),
        )
        .where(F.col("word") != "")
        .persist()  # token-per-bucket AND first-occurrence sides
    )
    tb = toks.agg(
        *[
            F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("bigint").alias(f"tb{i}")
            for i in range(HEAPS_B)
        ]
    )
    vb = (
        toks.groupBy("word")
        .agg(F.min("b").alias("fb"))
        .agg(
            *[
                F.sum(F.when(F.col("fb") == i, 1).otherwise(0))
                .cast("bigint")
                .alias(f"vb{i}")
                for i in range(HEAPS_B)
            ]
        )
    )
    wide = tb.crossJoin(F.broadcast(vb))
    n_ = _heaps_cums("tb")
    v_ = _heaps_cums("vb")
    xs = [f"ln(CAST({e} AS DOUBLE))" for e in n_]
    ys = [f"ln(CAST({e} AS DOUBLE))" for e in v_]
    sx = " + ".join(xs)
    sy = " + ".join(ys)
    sxx = " + ".join(f"({x}) * ({x})" for x in xs)
    sxy = " + ".join(f"({x}) * ({y})" for x, y in zip(xs, ys))
    # try_divide (round-12 degenerate sweep): a one-doc corpus puts
    # every token in one checkpoint, so all ln N are equal and the OLS
    # denominator is 0 — the fit is the defined NULL on both engines
    beta = (
        f"try_divide({HEAPS_B}.0D * ({sxy}) - ({sx}) * ({sy}),"
        f" {HEAPS_B}.0D * ({sxx}) - ({sx}) * ({sx}))"
    )
    return wide.select(
        F.lit(HEAPS_B).cast("bigint").alias("n_points"),
        F.expr(n_[-1]).cast("bigint").alias("tokens_total"),
        F.expr(v_[-1]).cast("bigint").alias("vocab_total"),
        F.expr(f"round({beta}, 6)").alias("heaps_beta"),
        F.expr(f"round((({sy}) - ({beta}) * ({sx})) / {HEAPS_B}.0D, 6)").alias(
            "heaps_log_k"
        ),
    )


@register(
    "text_bleu_corpus_pairs",
    oracle="""
        WITH pairs AS (
            SELECT doc_id AS pair_id, lang, text AS cand,
                   LEAD(text) OVER (PARTITION BY lang ORDER BY doc_id) AS ref
            FROM documents
        ),
        p AS (SELECT * FROM pairs WHERE ref IS NOT NULL),
        cl AS (
            SELECT pair_id, lang, 'c' AS side,
                   string_split(replace(lower(cand), 'i' || chr(775), 'i'), ' ') AS l
            FROM p
            UNION ALL
            SELECT pair_id, lang, 'r' AS side,
                   string_split(replace(lower(ref), 'i' || chr(775), 'i'), ' ') AS l
            FROM p
        ),
        toks AS (
            SELECT pair_id, lang, side, l[i.i] AS tok, i.i AS pos
            FROM cl,
                 LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) i
        ),
        grams AS (
            SELECT pair_id, lang, side, 1 AS n, tok AS gram FROM toks
            UNION ALL
            SELECT pair_id, lang, side, 2 AS n,
                   tok || ' ' || LEAD(tok) OVER
                       (PARTITION BY pair_id, side ORDER BY pos) AS gram
            FROM toks
        ),
        g AS (SELECT * FROM grams WHERE gram IS NOT NULL),
        counts AS (
            SELECT pair_id, lang, n, gram,
                   CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END)
                        AS BIGINT) AS cn,
                   CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END)
                        AS BIGINT) AS rn
            FROM g GROUP BY pair_id, lang, n, gram
        ),
        per_lang AS (
            SELECT lang,
                   CAST(SUM(CASE WHEN n = 1 THEN LEAST(cn, rn) END) AS BIGINT) AS clip1,
                   CAST(SUM(CASE WHEN n = 1 THEN cn END) AS BIGINT) AS tot1,
                   CAST(SUM(CASE WHEN n = 2 THEN LEAST(cn, rn) END) AS BIGINT) AS clip2,
                   CAST(SUM(CASE WHEN n = 2 THEN cn END) AS BIGINT) AS tot2,
                   CAST(SUM(CASE WHEN n = 1 THEN rn END) AS BIGINT) AS rlen
            FROM counts GROUP BY lang
        )
        SELECT lang,
               CAST((SELECT COUNT(*) FROM p WHERE p.lang = per_lang.lang)
                    AS BIGINT) AS n_pairs,
               clip1, tot1, clip2, tot2,
               ROUND(CAST(clip1 AS DOUBLE) / tot1, 6) AS p1,
               ROUND(CAST(clip2 AS DOUBLE) / tot2, 6) AS p2,
               ROUND(exp(LEAST(0.0, 1.0 - CAST(rlen AS DOUBLE) / tot1)), 6)
                   AS brevity_penalty,
               CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0.0
                    ELSE ROUND(exp(LEAST(0.0, 1.0 - CAST(rlen AS DOUBLE) / tot1))
                               * exp((ln(CAST(clip1 AS DOUBLE) / tot1)
                                      + ln(CAST(clip2 AS DOUBLE) / tot2)) / 2), 6)
               END AS bleu2
        FROM per_lang
        ORDER BY lang
    """,
    tags=("I-texteval",),
)
def text_bleu_corpus_pairs(spark, sf_dir):
    """Corpus-level BLEU-2 between each document and its successor in
    the same language — the Papineni (2002) machinery (modified/
    clipped n-gram precision, corpus-pooled counts, brevity penalty,
    geometric mean) run as pure relational algebra; point it at a
    (model_output, reference) pair table and it is the standard
    generation-eval metric at any scale.

    Construction: pairs via LEAD over (lang, doc_id); unigrams AND
    bigrams from ONE ordinal token explode (bigrams are tok+LEAD(tok)
    over the per-(pair, side) position window — identical in both
    engines, no lambda-index dialect differences); clipped counts are
    LEAST(cand_n, ref_n) per distinct gram, pooled per language
    before the ratio (corpus BLEU, not sentence-BLEU averaging).

    Exactness: every count is an exact BIGINT; p1, p2, BP, and the
    geometric mean are ONE fixed float expression each, rounded once;
    zero clipped mass short-circuits to 0.0 (log guard).

    100 TB posture: the explode shuffles on (pair, side) — token-
    count bounded, not pair-count² — and the gram-count aggregate is
    map-side combined; per-language pooling reduces to |langs| rows
    before any float math.  The per-doc windows order WITHIN one
    document's tokens (bounded frames), never globally."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    p = (
        d.select(
            F.col("doc_id").alias("pair_id"),
            "lang",
            F.col("text").alias("cand"),
            F.lead("text").over(w).alias("ref"),
        )
        .where(F.col("ref").isNotNull())
        .persist()
    )
    # NOTE (r15 optimization round): an array-expression bigram rewrite
    # (consecutive array elements instead of the LEAD window) was
    # attempted and REVERTED — on a corpus with duplicate doc_ids (the
    # `allequal` shape) the merged (pair_id, side) window partition
    # interleaves the duplicate rows' tokens, so the LEAD bigram
    # multiset differs from per-row array bigrams, and the oracle
    # mirrors the LEAD form.  The window stays; it was wall-clock
    # neutral locally anyway (ReuseExchange dedupes the toks branches).
    toks = (
        p.select(
            "pair_id",
            "lang",
            F.lit("c").alias("side"),
            F.posexplode(F.split(fold_lower(F.col("cand")), " ")).alias("pos0", "tok"),
        )
        .unionAll(
            p.select(
                "pair_id",
                "lang",
                F.lit("r").alias("side"),
                F.posexplode(F.split(fold_lower(F.col("ref")), " ")).alias("pos0", "tok"),
            )
        )
        .select("pair_id", "lang", "side", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    wg = Window.partitionBy("pair_id", "side").orderBy("pos")
    grams = toks.select(
        "pair_id", "lang", "side", F.lit(1).alias("n"), F.col("tok").alias("gram")
    ).unionAll(
        toks.select(
            "pair_id",
            "lang",
            "side",
            F.lit(2).alias("n"),
            F.lead("tok").over(wg).alias("nxt"),
            "tok",
        )
        .where(F.col("nxt").isNotNull())
        .select(
            "pair_id",
            "lang",
            "side",
            "n",
            F.concat_ws(" ", F.col("tok"), F.col("nxt")).alias("gram"),
        )
    )
    counts = grams.groupBy("pair_id", "lang", "n", "gram").agg(
        F.sum(F.when(F.col("side") == "c", 1).otherwise(0)).cast("bigint").alias("cn"),
        F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).cast("bigint").alias("rn"),
    )
    per_lang = counts.groupBy("lang").agg(
        F.sum(F.when(F.col("n") == 1, F.least("cn", "rn"))).cast("bigint").alias("clip1"),
        F.sum(F.when(F.col("n") == 1, F.col("cn"))).cast("bigint").alias("tot1"),
        F.sum(F.when(F.col("n") == 2, F.least("cn", "rn"))).cast("bigint").alias("clip2"),
        F.sum(F.when(F.col("n") == 2, F.col("cn"))).cast("bigint").alias("tot2"),
        F.sum(F.when(F.col("n") == 1, F.col("rn"))).cast("bigint").alias("rlen"),
    )
    npairs = p.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    clip1, tot1 = F.col("clip1"), F.col("tot1")
    clip2, tot2 = F.col("clip2"), F.col("tot2")
    bp = F.exp(F.least(F.lit(0.0), 1.0 - F.col("rlen").cast("double") / tot1))
    return (
        per_lang.join(F.broadcast(npairs), "lang")
        .select(
            "lang",
            "n_pairs",
            "clip1",
            "tot1",
            "clip2",
            "tot2",
            F.round(clip1.cast("double") / tot1, 6).alias("p1"),
            F.round(clip2.cast("double") / tot2, 6).alias("p2"),
            F.round(bp, 6).alias("brevity_penalty"),
            F.when((clip1 == 0) | (clip2 == 0), F.lit(0.0))
            .otherwise(
                F.round(
                    bp
                    * F.exp(
                        (
                            F.log(clip1.cast("double") / tot1)
                            + F.log(clip2.cast("double") / tot2)
                        )
                        / 2
                    ),
                    6,
                )
            )
            .alias("bleu2"),
        )
        .orderBy("lang")
    )


@register(
    "text_hapax_diversity",
    oracle="""
        WITH tok AS (
            SELECT lang, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
            FROM documents
        ),
        counts AS (
            SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok WHERE token <> ''
            GROUP BY lang, token
        ),
        m AS (
            SELECT lang,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS vocab,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS hapax,
                   CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS dis_legomena,
                   CAST(SUM(c * (c - 1)) AS BIGINT) AS s2
            FROM counts GROUP BY lang
        )
        SELECT lang, n_tokens, vocab, hapax, dis_legomena,
               ROUND(CAST(hapax AS DOUBLE) / vocab, 6) AS hapax_ratio,
               ROUND(CAST(vocab AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
               ROUND(CAST(s2 AS DOUBLE) / (CAST(n_tokens AS DOUBLE)
                     * (n_tokens - 1)), 9) AS simpson_index,
               ROUND(CAST(hapax AS DOUBLE) / n_tokens, 6) AS good_turing_p0
        FROM m
        ORDER BY lang
    """,
    tags=("I-diversity",),
)
def text_hapax_diversity(spark, sf_dir):
    """Per-language lexical-diversity profile: hapax/dis legomena
    counts, type–token ratio, Simpson's concentration index
    D = Σc(c−1)/(N(N−1)), and the Good–Turing unseen-mass estimate
    p₀ = hapax/N — the corpus-health numbers a tokenizer/vocab
    decision reads (a high hapax ratio means the tail is noise or the
    corpus is undersized; Simpson's inverse is the effective vocab).

    Exactness: every statistic is a fixed float expression of exact
    BIGINT count-of-count aggregates; Σc(c−1) stays int64-safe while
    the most frequent token is under ~3e9 occurrences (the documented
    DECIMAL(38,0) swap applies past that).

    100 TB posture: one token explode → one (lang, token) map-side-
    combined aggregate (the same shuffle class as wordcount) → a
    |langs|-row moment frame.  The count-of-count form never
    materializes a sorted frequency list (unlike the Zipf-fit key,
    which needs ranks)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split(fold_lower(F.col("text")), " ")).alias("token")
    ).where(F.col("token") != "")
    counts = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    c = F.col("c")
    m = counts.groupBy("lang").agg(
        F.sum(c).cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(c == 1, 1).otherwise(0)).cast("bigint").alias("hapax"),
        F.sum(F.when(c == 2, 1).otherwise(0)).cast("bigint").alias("dis_legomena"),
        F.sum(c * (c - 1)).cast("bigint").alias("s2"),
    )
    n, v, h = F.col("n_tokens"), F.col("vocab"), F.col("hapax")
    return m.select(
        "lang",
        "n_tokens",
        "vocab",
        "hapax",
        "dis_legomena",
        F.round(h.cast("double") / v, 6).alias("hapax_ratio"),
        F.round(v.cast("double") / n, 6).alias("type_token_ratio"),
        F.round(F.col("s2").cast("double") / (n.cast("double") * (n - 1)), 9).alias(
            "simpson_index"
        ),
        F.round(h.cast("double") / n, 6).alias("good_turing_p0"),
    ).orderBy("lang")


@register(
    "text_js_divergence_langs",
    oracle="""
        WITH tc AS (
            SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM (
                SELECT lang, unnest(string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ')) AS token
                FROM documents
            ) WHERE token <> ''
            GROUP BY lang, token
        ),
        tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY lang),
        pairs AS (
            SELECT a.lang AS la, b.lang AS lb
            FROM tot a JOIN tot b ON a.lang < b.lang
        ),
        left_ AS (
            SELECT p.la, p.lb, t.token, t.c AS ca
            FROM pairs p JOIN tc t ON t.lang = p.la
        ),
        right_ AS (
            SELECT p.la, p.lb, t.token, t.c AS cb
            FROM pairs p JOIN tc t ON t.lang = p.lb
        ),
        merged AS (
            SELECT COALESCE(l.la, r.la) AS la, COALESCE(l.lb, r.lb) AS lb,
                   COALESCE(l.ca, 0) AS ca, COALESCE(r.cb, 0) AS cb
            FROM left_ l
            FULL OUTER JOIN right_ r
              ON l.la = r.la AND l.lb = r.lb AND l.token = r.token
        ),
        terms AS (
            SELECT m.la, m.lb, ta.n AS na, tb.n AS nb,
                   CAST(ROUND(
                       CASE WHEN m.ca = 0 THEN 0.0
                            ELSE (CAST(m.ca AS DOUBLE) / ta.n)
                                 * ln((CAST(m.ca AS DOUBLE) / ta.n)
                                      / ((CAST(m.ca AS DOUBLE) / ta.n
                                          + CAST(m.cb AS DOUBLE) / tb.n) / 2))
                       END
                       + CASE WHEN m.cb = 0 THEN 0.0
                              ELSE (CAST(m.cb AS DOUBLE) / tb.n)
                                   * ln((CAST(m.cb AS DOUBLE) / tb.n)
                                        / ((CAST(m.ca AS DOUBLE) / ta.n
                                            + CAST(m.cb AS DOUBLE) / tb.n) / 2))
                         END, 9) AS DECIMAL(28,9)) AS term
            FROM merged m
            JOIN tot ta ON ta.lang = m.la
            JOIN tot tb ON tb.lang = m.lb
        )
        SELECT la AS lang_a, lb AS lang_b, na AS n_tokens_a, nb AS n_tokens_b,
               ROUND(CAST(SUM(term) AS DOUBLE) / 2, 6) AS js_divergence,
               ROUND(sqrt(CAST(SUM(term) AS DOUBLE) / 2 / ln(2.0)), 6)
                   AS js_distance_bits
        FROM terms
        GROUP BY la, lb, na, nb
        ORDER BY la, lb
    """,
    tags=("I-distribution",),
)
def text_js_divergence_langs(spark, sf_dir):
    """Jensen–Shannon divergence between every pair of language
    unigram distributions — the smoothed, symmetric, always-finite KL
    relative of text_lang_distribution_tv: JSD(P,Q) = ½Σp ln(p/m) +
    ½Σq ln(q/m) with m = (p+q)/2, plus the √(JSD/ln2) metric form in
    bits (the actual distance function used for corpus clustering).
    Zero-mass tokens contribute their exact limit 0 — no Laplace
    smoothing needed, unlike raw KL (which is infinite off-support).

    Exactness: counts and totals are exact BIGINTs; each token's
    summand is ONE fixed float expression of four exact integers,
    rounded to 9 dp into DECIMAL so the cross-token sum is order-free
    (the stats_cramers_v term idiom); the ÷2, the sqrt, and the final
    rounding happen once on the |pairs|-row frame.

    100 TB posture: identical to the TV key — one token aggregation,
    pair expansion bounded by |langs|², per-pair full-outer merge on
    token (hash exchange on the vocab, not the corpus), map-side-
    combined term sums to |pairs| rows."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(F.split(fold_lower(F.col("text")), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = tc.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n")).persist()
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(b, F.col("a.lang") < F.col("b.lang")).select(
        F.col("a.lang").alias("la"), F.col("b.lang").alias("lb")
    )
    left = pairs.join(tc, tc["lang"] == pairs["la"]).select(
        "la", "lb", "token", F.col("c").alias("ca")
    )
    right = pairs.join(tc, tc["lang"] == pairs["lb"]).select(
        F.col("la").alias("rla"), F.col("lb").alias("rlb"),
        F.col("token").alias("rtoken"), F.col("c").alias("cb"),
    )
    merged = left.join(
        right,
        (F.col("la") == F.col("rla"))
        & (F.col("lb") == F.col("rlb"))
        & (F.col("token") == F.col("rtoken")),
        "full",
    ).select(
        F.coalesce(F.col("la"), F.col("rla")).alias("la"),
        F.coalesce(F.col("lb"), F.col("rlb")).alias("lb"),
        F.coalesce(F.col("ca"), F.lit(0)).alias("ca"),
        F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
    )
    ta = tot.select(F.col("lang").alias("la"), F.col("n").alias("na"))
    tb = tot.select(F.col("lang").alias("lb"), F.col("n").alias("nb"))
    j = merged.join(F.broadcast(ta), "la").join(F.broadcast(tb), "lb")
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    m = (p + q) / 2
    term = (
        F.when(F.col("ca") == 0, F.lit(0.0)).otherwise(p * F.log(p / m))
        + F.when(F.col("cb") == 0, F.lit(0.0)).otherwise(q * F.log(q / m))
    )
    terms = j.select(
        "la", "lb", "na", "nb",
        F.round(term, 9).cast("decimal(28,9)").alias("term"),
    )
    s = F.sum("term").cast("double")
    return (
        terms.groupBy("la", "lb", "na", "nb")
        .agg(
            F.round(s / 2, 6).alias("js_divergence"),
            F.round(F.sqrt(s / 2 / F.log(F.lit(2.0))), 6).alias("js_distance_bits"),
        )
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            F.col("na").alias("n_tokens_a"),
            F.col("nb").alias("n_tokens_b"),
            "js_divergence",
            "js_distance_bits",
        )
        .orderBy("lang_a", "lang_b")
    )


#: TextRank vertex floor and damping
TR_MIN_COUNT = 5
TR_DAMP = 0.85


@register(
    "text_textrank_keywords",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(replace(lower(text), 'i' || chr(775), 'i'), ' ') AS t FROM documents
        ),
        adj AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
            WHERE t[i] <> '' AND t[i + 1] <> '' AND t[i] <> t[i + 1]
        ),
        vc AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT w1 AS w FROM adj UNION ALL SELECT w2 AS w FROM adj
            ) GROUP BY w HAVING COUNT(*) >= {TR_MIN_COUNT}
        ),
        edges AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS wt FROM (
                SELECT w1, w2 FROM adj
                UNION ALL
                SELECT w2 AS w1, w1 AS w2 FROM adj
            )
            WHERE w1 IN (SELECT w FROM vc) AND w2 IN (SELECT w FROM vc)
            GROUP BY w1, w2
        ),
        outw AS (
            SELECT w1, CAST(SUM(wt) AS BIGINT) AS ow FROM edges GROUP BY w1
        ),
        s0 AS (SELECT w AS token, CAST(1.0 AS DECIMAL(20,9)) AS s FROM vc),
        s1 AS (
            SELECT v.token,
                   CAST(ROUND(0.15 + {TR_DAMP} * COALESCE(SUM(
                       CAST(ROUND(CAST(s0.s AS DOUBLE) * e.wt / o.ow, 9)
                            AS DECIMAL(20,9))), 0), 9) AS DECIMAL(20,9)) AS s
            FROM s0 v
            LEFT JOIN edges e ON e.w2 = v.token
            LEFT JOIN outw o ON o.w1 = e.w1
            LEFT JOIN s0 ON s0.token = e.w1
            GROUP BY v.token
        ),
        s2 AS (
            SELECT v.token,
                   CAST(ROUND(0.15 + {TR_DAMP} * COALESCE(SUM(
                       CAST(ROUND(CAST(s1b.s AS DOUBLE) * e.wt / o.ow, 9)
                            AS DECIMAL(20,9))), 0), 9) AS DECIMAL(20,9)) AS s
            FROM s1 v
            LEFT JOIN edges e ON e.w2 = v.token
            LEFT JOIN outw o ON o.w1 = e.w1
            LEFT JOIN s1 s1b ON s1b.token = e.w1
            GROUP BY v.token
        )
        SELECT s2.token, vc.c AS n_occurrences,
               CAST(s2.s AS DOUBLE) AS textrank
        FROM s2 JOIN vc ON vc.w = s2.token
        ORDER BY s2.s DESC, s2.token
        LIMIT 20
    """,
    tags=("I-keywords",),
)
def text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — adjacent-token edges (both
    directions, count-weighted, vertices floored at 5
    occurrences), two damped rank rounds from the unit vector, top-20
    words.  The graph-centrality complement to text_rake_keyphrases
    (degree/frequency scoring) and text_keyword_topk (tf-idf): a word
    ranks high when VARIED high-scoring words sit next to it.

    Exactness: edge weights and out-strengths are exact BIGINTs; each
    round's contribution s_v·w/out_v is ONE float expression rounded
    to 9 dp into DECIMAL(20,9) before the exact sum (the
    graph_pagerank_fixed idiom), so the vector is bit-identical
    across engines after every round — with an EXPLICIT ROUND before
    every decimal-width cast, because Spark's cast rounds half-up
    while DuckDB's cast TRUNCATES (measured; round() is half-up in
    both, so rounding must happen as a function, never as a cast);
    the top-20 orders by the exact decimal with token tiebreak.

    100 TB posture: one token explode → edge aggregate (map-side
    combined, shuffle on the word pair); each round is one
    edges⋈scores hash join + word-keyed aggregate over the
    |vocabulary|-bounded frame, never the corpus; TakeOrdered for
    the final 20."""
    from pyspark.sql import Window  # noqa: F401  (module convention)

    d = load_table(spark, sf_dir, "documents")
    # ROW-LOCAL adjacency via zip_with over the token array (round-12
    # degenerate sweep): the previous lead()-over-(doc_id, pos) window
    # silently interleaved tokens when doc_ids repeat, while the
    # oracle's t[i]/t[i+1] is per-row by construction.  The array form
    # is also the better 100 TB plan — adjacent-pair extraction needs
    # NO window and NO shuffle, just an expression before the explode.
    t = F.split(fold_lower(F.col("text")), " ")
    npairs = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(t, 1, npairs),
        F.slice(t, 2, npairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    adj = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != "") & (F.col("w1") != F.col("w2")))
        .persist()
    )
    vc = (
        adj.select(F.col("w1").alias("w"))
        .unionAll(adj.select(F.col("w2").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .where(F.col("c") >= TR_MIN_COUNT)
        .persist()
    )
    both = adj.unionAll(adj.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
    edges = (
        both.join(F.broadcast(vc.select(F.col("w").alias("w1"))), "w1")
        .join(F.broadcast(vc.select(F.col("w").alias("w2"))), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wt"))
        .persist()
    )
    outw = edges.groupBy("w1").agg(F.sum("wt").cast("bigint").alias("ow"))
    s = vc.select(
        F.col("w").alias("token"), F.lit(1.0).cast("decimal(20,9)").alias("s")
    )
    for _ in range(2):
        contrib = (
            edges.join(outw, "w1")
            .join(s.withColumnRenamed("token", "src"), F.col("src") == F.col("w1"))
            .select(
                F.col("w2").alias("token"),
                F.round(F.col("s").cast("double") * F.col("wt") / F.col("ow"), 9)
                .cast("decimal(20,9)")
                .alias("c9"),
            )
            .groupBy("token")
            .agg(F.sum("c9").alias("inmass"))
        )
        # decimal literals, not float: 0.15 + 0.85·x must be EXACT
        # decimal arithmetic (DuckDB parses the literals as DECIMAL;
        # a double-path Spark twin disagrees in the 9th dp)
        s = (
            s.select("token")
            .join(contrib, "token", "left")
            .select(
                "token",
                F.round(
                    F.lit("0.15").cast("decimal(3,2)")
                    + F.lit("0.85").cast("decimal(3,2)")
                    * F.coalesce(F.col("inmass"), F.lit(0).cast("decimal(20,9)")),
                    9,
                )
                .cast("decimal(20,9)")
                .alias("s"),
            )
            .persist()
        )
    return (
        s.join(vc.withColumnRenamed("w", "token"), "token")
        .select(
            "token",
            F.col("c").alias("n_occurrences"),
            F.col("s").cast("double").alias("textrank"),
        )
        .orderBy(F.col("s").desc(), "token")
        .limit(20)
        .drop("s")
    )
