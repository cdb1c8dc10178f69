"""Distributed statistics: Poisson-bootstrap confidence intervals —
the MapReduce-era answer to "resample a dataset you cannot hold
anywhere": classic bootstrap resampling draws n rows WITH replacement
(a global operation), but for large n the per-row multiplicity in a
resample is Poisson(1) to vanishing error, and Poisson draws are
independent PER ROW — so every row computes its own weight for every
replicate locally, and B resampled aggregates become one weighted
aggregation over an ×B expansion.  No sampling pass, no global state,
no driver.

Determinism contract (policy §7.2): the Poisson draw is an inverse-
CDF lookup on a hash uniform (first 32 bits of md5(key:replicate) —
byte-identical across engines, cf. ml_feature_hashing) against
PRECOMPUTED CDF literals (no cross-engine exp()); replicate means are
exact DECIMAL sums divided by exact counts; the across-replicate
variance uses the round-then-DECIMAL trick (6-dp replicate means
summed exactly), so the only floats are identical IEEE division/sqrt.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.policy import money
from etl_builder_spark.registry import REGISTRY, register
from etl_builder_spark.session import load_table

#: number of bootstrap replicates
BOOT_B = 20

#: Poisson(1) CDF, precomputed Python floats injected as literals into
#: both engines; multiplicity capped at 7 (P ≈ 1e-4 tail).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)

_K_CASE_SQL = (
    "CASE "
    + " ".join(f"WHEN u < {p!r} THEN {k}" for k, p in enumerate(POISSON1_CDF))
    + " ELSE 7 END"
)


@register(
    "stats_poisson_bootstrap_ci",
    oracle=f"""
        WITH expanded AS (
            SELECT o_totalprice, b,
                   list_reduce(list_transform(
                       list_filter(string_split_regex(
                           substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                      || CAST(b // 4 AS VARCHAR)),
                                  CAST(1 + 8 * (b % 4) AS INT), 8),
                           ''), c -> c <> ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, x) -> a * 16 + x) / 4294967296.0 AS u
            FROM orders CROSS JOIN unnest(range(0, {BOOT_B})) AS t(b)
        ),
        weighted AS (SELECT b, o_totalprice, {_K_CASE_SQL} AS k FROM expanded),
        reps AS (
            SELECT b,
                   CAST(ROUND(CAST(SUM(k * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                              / SUM(k), 6) AS DECIMAL(28,6)) AS m
            FROM weighted GROUP BY b
        ),
        ints AS (SELECT CAST(m * 1000000 AS BIGINT) AS mi FROM reps),
        boot AS (
            SELECT COUNT(*) AS nb,
                   CAST(SUM(mi) AS DOUBLE) / 1000000.0 AS sm,
                   CAST(SUM(CAST(mi AS HUGEINT) * mi) AS DOUBLE) / 1000000000000.0 AS sm2
            FROM ints
        ),
        point AS (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                       AS est
            FROM orders
        )
        SELECT CAST(nb AS BIGINT) AS n_replicates,
               ROUND(est, 6) AS point_estimate,
               ROUND(sm / nb, 6) AS boot_mean,
               ROUND(sqrt((sm2 - sm * sm / nb) / (nb - 1)), 6) AS boot_se,
               ROUND(est - 1.96 * sqrt((sm2 - sm * sm / nb) / (nb - 1)), 6) AS ci_lo,
               ROUND(est + 1.96 * sqrt((sm2 - sm * sm / nb) / (nb - 1)), 6) AS ci_hi
        FROM boot CROSS JOIN point
    """,
    tags=("STATS-bootstrap",),
)
def stats_poisson_bootstrap_ci(spark, sf_dir):
    """95% bootstrap CI for the mean order total via {BOOT_B} Poisson
    replicates (see module docstring).  The ×B expansion is an
    expression-side explode; each replicate mean is one weighted
    aggregation with map-side combine; the across-replicate moments
    reduce {BOOT_B} rows.

    100 TB posture: this is the ONLY bootstrap that scales — per-row
    hash weights mean zero coordination, the shuffle carries B partial
    aggregates per mapper (not B resamples of the data), and adding
    replicates scales compute linearly while the data is still read
    ONCE.  The same shape yields CIs for any algebraic aggregate
    (sums, ratios, regression moments)."""
    o = load_table(spark, sf_dir, "orders")
    # one md5 yields FOUR independent 8-hex uniforms — hash once per
    # replicate GROUP of 4 and slice.  The explode is TWO-LEVEL so the
    # digest is genuinely computed once per group: the single-level
    # form (explode b over 0..B-1, md5 of b div 4 per row) re-evaluated
    # the md5 on each of the 4 rows sharing a group — the projection
    # holding the md5 must sit BELOW the slice-index generator for the
    # 4x cut to be real (plan-verified: one md5 per Generate level).
    g = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B // 4 - 1))).alias("g")
    grouped = o.select(money("o_totalprice").alias("p"), F.col("o_orderkey"), g)
    h = F.md5(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit(":"),
            F.col("g").cast("long").cast("string"),
        )
    )
    hashed = grouped.select("p", "g", h.alias("h"))
    expanded = hashed.select(
        "p", "g", "h", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    ).select("p", "h", (F.col("g") * 4 + F.col("i")).alias("b"), F.col("i"))
    u = (
        F.conv(
            F.substr(F.col("h"), F.lit(1) + 8 * F.col("i"), F.lit(8)),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    k = None
    for i, p in enumerate(POISSON1_CDF):
        k = F.when(u < p, i) if k is None else k.when(u < p, i)
    k = k.otherwise(7)
    reps = (
        expanded.select("b", "p", k.alias("k"))
        .groupBy("b")
        .agg(
            # try_divide (round-12 degenerate sweep): a tiny corpus can
            # draw all-zero Poisson weights in a replicate — its mean is
            # the defined NULL on both engines (DuckDB x/0 is NULL) and
            # drops out of the across-replicate moments like any NULL
            F.round(
                F.try_divide(F.sum(F.col("k") * F.col("p")).cast("double"), F.sum("k")), 6
            )
            .cast("decimal(28,6)")
            .alias("m")
        )
    )
    # across-replicate moments in scaled integers (m is an exact 6-dp
    # decimal): squares in DECIMAL(38,0) — a decimal×decimal square
    # would hit the two engines' DIFFERENT precision-overflow rules
    ints = reps.select((F.col("m") * 1000000).cast("long").alias("mi"))
    boot = ints.agg(
        F.count(F.lit(1)).alias("nb"),
        (F.sum("mi").cast("double") / F.lit(1000000.0)).alias("sm"),
        (
            F.sum(F.col("mi").cast("decimal(38,0)") * F.col("mi")).cast("double")
            / F.lit(1000000000000.0)
        ).alias("sm2"),
    )
    point = o.agg(
        (F.sum(money("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("est")
    )
    se = F.sqrt((F.col("sm2") - F.col("sm") * F.col("sm") / F.col("nb")) / (F.col("nb") - 1))
    return boot.crossJoin(F.broadcast(point)).select(
        F.col("nb").cast("bigint").alias("n_replicates"),
        F.round(F.col("est"), 6).alias("point_estimate"),
        F.round(F.col("sm") / F.col("nb"), 6).alias("boot_mean"),
        F.round(se, 6).alias("boot_se"),
        F.round(F.col("est") - 1.96 * se, 6).alias("ci_lo"),
        F.round(F.col("est") + 1.96 * se, 6).alias("ci_hi"),
    )


@register(
    "stats_ks_two_sample",
    oracle="""
        WITH vals AS (
            SELECT o_totalprice AS v,
                   CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS is_a
            FROM orders WHERE year(o_orderdate) IN (1995, 1996)
              AND o_totalprice IS NOT NULL
        ),
        per_val AS (
            SELECT v,
                   CAST(SUM(is_a) AS BIGINT) AS na,
                   CAST(SUM(1 - is_a) AS BIGINT) AS nb
            FROM vals GROUP BY v
        ),
        cum AS (
            SELECT v,
                   SUM(na) OVER (ORDER BY v) AS ca,
                   SUM(nb) OVER (ORDER BY v) AS cb
            FROM per_val
        ),
        tot AS (
            SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
            FROM per_val
        ),
        diffs AS (
            SELECT v, abs(ca * tb - cb * ta) AS dnum
            FROM cum CROSS JOIN tot
        ),
        m AS (SELECT MAX(dnum) AS md FROM diffs)
        SELECT t.ta AS n_a, t.tb AS n_b,
               CAST(m.md AS DOUBLE) / (t.ta * t.tb) AS d_stat,
               (SELECT MIN(v) FROM diffs WHERE dnum = m.md) AS d_location
        FROM tot t CROSS JOIN m
    """,
    tags=("STATS-ks",),
)
def stats_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic between the 1995 and
    1996 order-total distributions — the standard nonparametric
    did-the-distribution-shift test (the hypothesis-testing companion
    to dq_distribution_drift's PSI monitor).  EXACT by construction:
    ECDF differences are compared as INTEGER cross-products
    (|ca·n_b − cb·n_a|), so the supremum and its location involve no
    float comparison at all; the single division at the end is
    identical IEEE on both engines.

    100 TB posture: one hash aggregation onto distinct values (ties
    merged — this also makes the ECDF step function well-defined),
    one global sort of the DISTINCT-value frame for the running sums
    (|values|, not |rows| — same bounded-window argument as
    vocab_top_tokens), then 1-row reductions over the persisted diff
    frame (max + argmin location — two consumers, one derivation)."""
    from pyspark.sql import Window

    per_val = _per_val_counts(spark, sf_dir).persist()
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_val.select(
        "v", F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    return _ks_statistic(per_val, cum)


def _ks_statistic(per_val, cum):
    """(n_a, n_b, d_stat, d_location) from the per-value counts and
    their inclusive running sums (v, ca, cb): integer cross-product
    ECDF differences, supremum + min-v location, one final division."""
    tot = _sample_totals(per_val)
    diffs = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "v",
            F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")).alias("dnum"),
            "ta",
            "tb",
        )
        .persist()
    )
    m = diffs.agg(F.max("dnum").alias("md"))
    loc = (
        diffs.join(F.broadcast(m), F.col("dnum") == F.col("md"))
        .agg(F.min("v").alias("d_location"))
    )
    return (
        tot.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(loc))
        .select(
            F.col("ta").alias("n_a"),
            F.col("tb").alias("n_b"),
            # try_divide (round-12 degenerate sweep): absent sample → 0
            F.try_divide(F.col("md").cast("double"), F.col("ta") * F.col("tb")).alias(
                "d_stat"
            ),
            "d_location",
        )
    )


@register(
    "stats_chi_square_independence",
    oracle="""
        WITH cells AS (
            SELECT o_orderpriority AS r, o_orderstatus AS c,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT r, CAST(SUM(n) AS BIGINT) AS nr FROM cells GROUP BY r),
        ct AS (SELECT c, CAST(SUM(n) AS BIGINT) AS nc FROM cells GROUP BY c),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
        terms AS (
            SELECT cells.n, rt.nr, ct.nc, tot.nt,
                   CAST(ROUND(
                       (cells.n - CAST(rt.nr AS DOUBLE) * ct.nc / tot.nt)
                       * (cells.n - CAST(rt.nr AS DOUBLE) * ct.nc / tot.nt)
                       / (CAST(rt.nr AS DOUBLE) * ct.nc / tot.nt), 9)
                       AS DECIMAL(28,9)) AS term
            FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot
        )
        SELECT ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
               (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM rt)
                   * (SELECT CAST((COUNT(*) - 1) AS BIGINT) FROM ct) AS dof,
               COUNT(*) AS n_cells,
               MIN(nt) AS n_total
        FROM terms
    """,
    tags=("STATS-chi2",),
)
def stats_chi_square_independence(spark, sf_dir):
    """Chi-square test of independence over the (order priority ×
    order status) contingency table — the categorical-association
    screen (are priorities assigned independently of status?).
    Expected counts are exact-integer products divided once in
    double; per-cell terms are rounded to 9 dp and summed as DECIMAL
    so the statistic is order-free (policy §7.2).

    100 TB posture: the contingency table is ONE hash aggregation
    (map-side combined, ≤ |R|·|C| rows); margins derive from the
    persisted cell frame — no second source scan — and everything
    after is arithmetic on a tiny frame.  This is the audit shape
    for any pair of low-cardinality columns."""
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    rt = cells.groupBy("r").agg(F.sum("n").cast("bigint").alias("nr"))
    ct = cells.groupBy("c").agg(F.sum("n").cast("bigint").alias("nc"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("nt"))
    e = F.col("nr").cast("double") * F.col("nc") / F.col("nt")
    term = F.round((F.col("n") - e) * (F.col("n") - e) / e, 9).cast("decimal(28,9)")
    terms = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term"), "nt")
    )
    nr_cnt = rt.agg(F.count(F.lit(1)).alias("n_r"))
    nc_cnt = ct.agg(F.count(F.lit(1)).alias("n_c"))
    return (
        terms.agg(
            F.round(F.sum("term").cast("double"), 6).alias("chi2"),
            F.count(F.lit(1)).alias("n_cells"),
            F.min("nt").alias("n_total"),
        )
        .crossJoin(F.broadcast(nr_cnt))
        .crossJoin(F.broadcast(nc_cnt))
        .select(
            "chi2",
            ((F.col("n_r") - 1) * (F.col("n_c") - 1)).cast("bigint").alias("dof"),
            "n_cells",
            "n_total",
        )
    )


@register(
    "stats_two_proportion_z",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        ),
        per AS (
            SELECT grp,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_conv
            FROM per_user GROUP BY grp
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN grp = 'A' THEN n_users END) AS na,
                MAX(CASE WHEN grp = 'A' THEN n_conv END) AS xa,
                MAX(CASE WHEN grp = 'B' THEN n_users END) AS nb,
                MAX(CASE WHEN grp = 'B' THEN n_conv END) AS xb
            FROM per
        )
        SELECT na, xa, nb, xb,
               CAST(xa AS DOUBLE) / na AS p_a,
               CAST(xb AS DOUBLE) / nb AS p_b,
               CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN 0.0
                    ELSE ROUND((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                         / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                                * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                                * (1.0 / na + 1.0 / nb)), 6) END AS z_stat
        FROM wide
    """,
    tags=("STATS-ab",),
)
def stats_two_proportion_z(spark, sf_dir):
    """Two-proportion z-test — the A/B-test readout: the USER-level
    conversion rate (did the user ever purchase) in arm A (even user
    ids) vs arm B (odd), pooled-variance z statistic.  Completes the
    experimentation trio with the bootstrap CI (means) and KS
    (distributions).  Converters are a subset of users by
    construction, so the pooled proportion is always in [0,1]; the
    statistic is a fixed chain of IEEE ops on exact counts —
    identical on both engines, rounded once.

    100 TB posture: one user-level aggregation (map-side combined on
    user_id) then a 2-row rollup — experiment readouts at any scale
    are this shape; the deterministic hash arm assignment (id parity
    here; ml_feature_hashing's md5 bucket in production) means the
    assignment itself needs no stored table."""
    e = load_table(spark, sf_dir, "events")
    grp = F.when(F.col("user_id") % 2 == 0, "A").otherwise("B")
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    ).select(grp.alias("grp"), "converted")
    per = per_user.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = per.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("grp") == "A", F.col("n_conv"))).alias("xa"),
        F.max(F.when(F.col("grp") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("grp") == "B", F.col("n_conv"))).alias("xb"),
    )
    pa = F.col("xa").cast("double") / F.col("na")
    pb = F.col("xb").cast("double") / F.col("nb")
    pp = (F.col("xa") + F.col("xb")).cast("double") / (F.col("na") + F.col("nb"))
    degenerate = ((F.col("xa") + F.col("xb")) == 0) | (
        (F.col("xa") + F.col("xb")) == (F.col("na") + F.col("nb"))
    )
    z = (pa - pb) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    # degenerate pooled rate (0 or 1): zero variance — define z = 0
    # rather than divide by zero (both engines agree by construction)
    z_safe = F.when(degenerate, F.lit(0.0)).otherwise(F.round(z, 6))
    return wide.select(
        "na", "xa", "nb", "xb", pa.alias("p_a"), pb.alias("p_b"), z_safe.alias("z_stat")
    )


@register(
    "stats_survival_km",
    oracle="""
        WITH ref AS (SELECT MAX(ts) AS corpus_end FROM events),
        users AS (
            SELECT user_id,
                   CAST(datediff('day', MIN(ts), MAX(ts)) AS BIGINT) AS lifetime_d,
                   (datediff('day', MAX(ts), corpus_end) > 3) AS died
            FROM events CROSS JOIN ref
            GROUP BY user_id, corpus_end
        ),
        risk AS (
            SELECT lifetime_d AS t,
                   CAST(SUM(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
                   CAST(COUNT(*) AS BIGINT) AS ending_here
            FROM users GROUP BY lifetime_d
        ),
        cum AS (
            SELECT t, d,
                   CAST(SUM(ending_here) OVER (ORDER BY t DESC
                                               ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS n_at_risk
            FROM risk
        ),
        terms AS (
            SELECT t, d, n_at_risk,
                   CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 9)
                        AS DECIMAL(28,9)) AS lterm
            FROM cum WHERE d < n_at_risk
        )
        SELECT t AS lifetime_days, d AS n_events, n_at_risk,
               ROUND(exp(CAST(SUM(lterm) OVER (ORDER BY t
                                               ROWS UNBOUNDED PRECEDING)
                              AS DOUBLE)), 6) AS survival
        FROM terms
    """,
    tags=("STATS-survival",),
)
def stats_survival_km(spark, sf_dir):
    """Kaplan–Meier survival curve of user LIFETIMES (days between
    first and last activity), with right-censoring: users still
    active within 3 days of the corpus end are censored, not deaths —
    the survival-analysis estimator behind churn forecasting and
    LTV horizon choices, which a naive "average lifetime" biases
    badly by counting the still-alive as finished.  The product-limit
    estimator Π(1 − dᵢ/nᵢ) distributes as a CUMULATIVE SUM of
    per-time log terms (rounded-then-DECIMAL — order-free, policy
    §7.2) re-exponentiated once per row; the at-risk counts come from
    a descending running sum over the per-lifetime aggregate.  Times
    where every remaining subject dies (d = n) are excluded from the
    log domain (survival there is 0 by convention — the curve's
    terminal point, reported implicitly by its absence).

    100 TB posture: one user-level aggregation collapses the event
    stream; every window runs over the |distinct lifetimes| frame
    (bounded by the calendar) — the same aggregated-frame window
    argument as vocab_top_tokens; ln/exp evaluate on identical
    doubles in both engines and the result is rounded once."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    ref = e.agg(F.max("ts").alias("corpus_end"))
    users = (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id", "corpus_end")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .select(
            F.datediff("last_ts", "first_ts").cast("bigint").alias("lifetime_d"),
            (F.datediff("corpus_end", "last_ts") > 3).alias("died"),
        )
    )
    risk = users.groupBy(F.col("lifetime_d").alias("t")).agg(
        F.sum(F.when(F.col("died"), 1).otherwise(0)).cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ending_here"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = risk.select(
        "t", "d", F.sum("ending_here").over(w_desc).alias("n_at_risk")
    )
    lterm = F.round(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")), 9
    ).cast("decimal(28,9)")
    terms = cum.where(F.col("d") < F.col("n_at_risk")).select(
        "t", "d", "n_at_risk", lterm.alias("lterm")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return terms.select(
        F.col("t").alias("lifetime_days"),
        F.col("d").alias("n_events"),
        "n_at_risk",
        F.round(F.exp(F.sum("lterm").over(w_asc).cast("double")), 6).alias("survival"),
    )


@register(
    "stats_mannwhitney_u",
    oracle="""
        WITH filt AS (
            SELECT o_totalprice AS v,
                   CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END AS is_a
            FROM orders
            WHERE year(o_orderdate) IN (1995, 1996)
              AND o_totalprice IS NOT NULL
        ),
        per_val AS (
            SELECT v,
                   CAST(SUM(is_a) AS BIGINT) AS na,
                   CAST(SUM(1 - is_a) AS BIGINT) AS nb
            FROM filt GROUP BY v
        ),
        tot AS (
            SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
            FROM per_val
        ),
        cum AS (
            SELECT na, nb,
                   SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - nb AS cbb
            FROM per_val
        ),
        s AS (
            SELECT CAST(SUM(na * (2 * cbb + nb)) AS BIGINT) AS u2a,
                   CAST(SUM((na + nb) * (na + nb) * (na + nb) - (na + nb)) AS BIGINT)
                       AS s3
            FROM cum
        )
        SELECT ta AS n_a, tb AS n_b,
               CAST(u2a AS DOUBLE) / 2 AS u_a,
               CAST(ta * tb AS DOUBLE) - CAST(u2a AS DOUBLE) / 2 AS u_b,
               ROUND((CAST(u2a AS DOUBLE) / 2 - CAST(ta * tb AS DOUBLE) / 2)
                     / sqrt(CAST(ta * tb AS DOUBLE) / 12
                            * (CAST(ta + tb + 1 AS DOUBLE)
                               - CAST(s3 AS DOUBLE)
                                 / (CAST(ta + tb AS DOUBLE) * CAST(ta + tb - 1 AS DOUBLE)))),
                     6) AS z_score
        FROM tot CROSS JOIN s
    """,
    tags=("STATS-mwu",),
)
def stats_mannwhitney_u(spark, sf_dir):
    """Mann–Whitney U (Wilcoxon rank-sum) between the 1995 and 1996
    order-total distributions — the rank-based location-shift test
    next to KS's shape test, sharing its fixture so the two answer the
    same "did the distribution move?" question from complementary
    angles.  EXACT by construction, the stats_ks_two_sample
    discipline: U is never computed from per-row ranks at all —
    2·U_a = Σ_v na(v)·(2·|b below v| + nb(v)) over DISTINCT values
    (the tie term counts half), an integer identity, so U and the
    tie-corrected normal z (σ² with the Σ(t³−t) correction) come from
    three integer reductions and one final float expression written
    identically in both engines.

    100 TB posture: one hash aggregation onto distinct values, one
    running sum over the |values|-sized frame (same bounded-window
    argument as KS — swap to range-partitioned prefix sums at
    billion-distinct-value scale), two 1-row reductions.  No per-row
    rank window anywhere: the classic ranks-then-sum formulation
    sorts |rows|; this one never materializes a rank."""
    from pyspark.sql import Window

    per_val = _per_val_counts(spark, sf_dir).persist()
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per_val.select(
        "na", "nb", (F.sum("nb").over(w) - F.col("nb")).alias("cbb")
    )
    return _mwu_statistic(per_val, cum.agg(_u2a_sum(), _ties_sum()))


def _u2a_sum():
    """2·U_a = Σ_v na(v)·(2·cbb(v) + nb(v)) over (na, nb, cbb) rows."""
    return F.sum(F.col("na") * (2 * F.col("cbb") + F.col("nb"))).cast("bigint").alias("u2a")


def _ties_sum():
    """Σ(t³ − t) tie-correction term, t = na + nb per distinct value."""
    t = F.col("na") + F.col("nb")
    return F.sum(t * t * t - t).cast("bigint").alias("s3")


def _mwu_statistic(per_val, s):
    """(n_a, n_b, u_a, u_b, z_score) from the per-value counts and the
    1-row sums (u2a, s3): U and the tie-corrected normal z, one float
    expression written identically in both engines."""
    tot = _sample_totals(per_val)
    ta, tb = F.col("ta"), F.col("tb")
    ua = F.col("u2a").cast("double") / F.lit(2)
    mu = (ta * tb).cast("double") / F.lit(2)
    var = (ta * tb).cast("double") / F.lit(12) * (
        (ta + tb + F.lit(1)).cast("double")
        - F.try_divide(
            F.col("s3").cast("double"),
            (ta + tb).cast("double") * (ta + tb - F.lit(1)).cast("double"),
        )
    )
    return tot.crossJoin(F.broadcast(s)).select(
        ta.alias("n_a"),
        tb.alias("n_b"),
        ua.alias("u_a"),
        ((ta * tb).cast("double") - ua).alias("u_b"),
        # try_divide (round-12 degenerate sweep): absent sample → var 0
        F.round(F.try_divide(ua - mu, F.sqrt(var)), 6).alias("z_score"),
    )


@register(
    "stats_corr_pearson_exact",
    oracle="""
        WITH moments AS (
            SELECT l_returnflag AS flag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                            * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(9,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT flag, n AS n_rows,
               ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS corr,
               ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS cov_pop
        FROM moments
    """,
    tags=("STATS-corr",),
)
def stats_corr_pearson_exact(spark, sf_dir):
    """Pearson correlation (quantity vs extended price per return
    flag) computed EXACTLY from decimal co-moments — never the
    engine's native ``corr``, whose streaming co-moment accumulation
    is order-dependent and engine-specific.  The five sufficient
    statistics (Σx, Σy, Σx², Σy², Σxy) are exact DECIMAL sums of
    2-dp inputs (4-dp products), so the reduction is order-free; the
    final r = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is one fixed
    float expression written identically in both engines (policy
    §7.2).  Population covariance reported alongside.

    100 TB posture: one map-side-combined hash aggregate carrying five
    decimal accumulators — the textbook distributed-correlation shape;
    adding columns to a correlation MATRIX costs one accumulator per
    pair, not one pass per pair.  The numerically-dicey catastrophic
    cancellation of the naive formula is neutralized here because the
    co-moments are EXACT (decimal), not floating partials."""
    l = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(9,2)")
    price = money("l_extendedprice")
    m = l.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
        F.sum(qty * price).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        nd * F.col("syy") - F.col("sy") * F.col("sy")
    )
    # try_divide (round-12 degenerate sweep): a single-row or all-equal
    # group has zero variance in one or both margins — the undefined
    # correlation is the defined NULL on both engines (DuckDB x/0 NULL)
    return m.select(
        "flag",
        F.col("n").alias("n_rows"),
        F.round(F.try_divide(num, den), 6).alias("corr"),
        F.round(num / (nd * nd), 6).alias("cov_pop"),
    )


# --- banded prefix sums: the proven 100 TB swap for the KS/MW family -----

#: range-band count for the banded prefix-sum twins; at real scale pick
#: ~(cluster cores × 4) so each band's partitioned window holds
#: |distinct values| / bands rows.
PREFIX_BANDS = 32


def _per_val_counts(spark, sf_dir):
    """Shared fixture of the KS / Mann-Whitney keys and their banded
    twins: per-DISTINCT-value integer counts (v, na, nb) of the 1995
    (a) vs 1996 (b) order-total samples."""
    o = load_table(spark, sf_dir, "orders").where(
        # complete-case (round-12 nullmeasures sweep): a NULL price is
        # not an observation — both engines drop it before the statistic
        F.year("o_orderdate").isin(1995, 1996)
        & F.col("o_totalprice").isNotNull()
    )
    is_a = F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)
    return (
        o.select(F.col("o_totalprice").alias("v"), is_a.alias("is_a"))
        .groupBy("v")
        .agg(
            F.sum("is_a").cast("bigint").alias("na"),
            F.sum(1 - F.col("is_a")).cast("bigint").alias("nb"),
        )
    )


def _sample_totals(per_val):
    """1-row (ta, tb): the two sample sizes."""
    return per_val.agg(
        F.sum("na").cast("bigint").alias("ta"), F.sum("nb").cast("bigint").alias("tb")
    )


def _banded_cumulative(per_val, n_bands: int = PREFIX_BANDS):
    """Inclusive running sums (ca, cb) of (na, nb) in ascending-``v``
    order WITHOUT any unpartitioned Window — the range-partitioned
    prefix-sum swap documented on stats_ks_two_sample/stats_mannwhitney_u
    and proven here under the exact hash (VERDICT r6 item 3).

    Two passes, classic distributed scan:
      1. band assignment is a PROJECTION — fixed-width value bands from a
         broadcast 1-row (min, max); monotone in v, so band order ==
         value order.  No sort, no sampled range boundaries needed
         (RangePartitioner-style sampling would also work but is not
         value-deterministic across engines).
      2. band TOTALS (n_bands rows) get exclusive offsets via a tiny
         broadcast theta self-join (y.band < x.band) — zero Window
         nodes; within-band running sums use a Window PARTITIONED by
         band, which scales with |values|/n_bands per task instead of
         moving every distinct value through one partition.

    Exactness: band boundaries only partition the integer additions;
    ca/cb per value are the same BIGINT sums in any grouping, so the
    twin is hash-identical to the unpartitioned parent by construction.
    Returns (v, na, nb, ca, cb) — one shuffle for the band window, one
    broadcast of the 1-row range, one of the n_bands-row offsets.
    """
    from pyspark.sql import Window

    rng = per_val.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(n_bands))
    band = (
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("v") - F.col("vmin")) / width).cast("int"),
                F.lit(n_bands - 1),
            )
        )
        .alias("band")
    )
    banded = per_val.crossJoin(F.broadcast(rng)).select("v", "na", "nb", band)
    totals = banded.groupBy("band").agg(
        F.sum("na").cast("bigint").alias("bna"), F.sum("nb").cast("bigint").alias("bnb")
    )
    off = (
        totals.alias("x")
        .join(F.broadcast(totals.alias("y")), F.col("y.band") < F.col("x.band"), "left")
        .groupBy(F.col("x.band").alias("band"))
        .agg(
            F.coalesce(F.sum("y.bna"), F.lit(0)).cast("bigint").alias("off_a"),
            F.coalesce(F.sum("y.bnb"), F.lit(0)).cast("bigint").alias("off_b"),
        )
    )
    wb = Window.partitionBy("band").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return banded.join(F.broadcast(off), "band").select(
        "v",
        "na",
        "nb",
        (F.col("off_a") + F.sum("na").over(wb)).alias("ca"),
        (F.col("off_b") + F.sum("nb").over(wb)).alias("cb"),
    )


@register(
    "stats_ks_two_sample_banded",
    oracle=REGISTRY["stats_ks_two_sample"].oracle,
    tags=("STATS-ks", "SCALE-twin"),
)
def stats_ks_two_sample_banded(spark, sf_dir):
    """``stats_ks_two_sample`` with the ECDF running sums computed by
    range-partitioned band prefix sums (see ``_banded_cumulative``)
    instead of one unpartitioned Window — the last documented-but-
    unproven scale swap from VERDICT r5/r6, now under the exact hash
    with the parent's own oracle.  Everything downstream of (ca, cb)
    is the parent verbatim (``_ks_statistic``): integer cross-product
    ECDF differences, supremum + min-v location, one final IEEE
    division."""
    per_val = _per_val_counts(spark, sf_dir).persist()
    return _ks_statistic(per_val, _banded_cumulative(per_val))


@register(
    "stats_mannwhitney_u_banded",
    oracle=REGISTRY["stats_mannwhitney_u"].oracle,
    tags=("STATS-mwu", "SCALE-twin"),
)
def stats_mannwhitney_u_banded(spark, sf_dir):
    """``stats_mannwhitney_u`` with the strictly-below-v cumulative count
    from range-partitioned band prefix sums (``_banded_cumulative``) —
    cbb = cb − nb, then the same integer identity
    2·U_a = Σ_v na(v)·(2·cbb(v) + nb(v)) and tie-corrected z.  The s3
    tie term never needed a window; it stays a plain reduction over the
    distinct-value frame."""
    per_val = _per_val_counts(spark, sf_dir).persist()
    cum = _banded_cumulative(per_val).select(
        "na", "nb", (F.col("cb") - F.col("nb")).alias("cbb")
    )
    s = cum.agg(_u2a_sum()).crossJoin(F.broadcast(per_val.agg(_ties_sum())))
    return _mwu_statistic(per_val, s)


def banded_running(df, value_col: str, tiebreak_col: str, descending: bool = False,
                   n_bands: int = PREFIX_BANDS, sum_col: str | None = None):
    """Generalized banded prefix aggregation: every input row gains
    ``run_sum`` (inclusive running SUM(sum_col), default the order
    column itself) and ``rnk`` (inclusive running COUNT == global
    row_number) in the total order (value_col ASC|DESC, tiebreak_col
    ASC) — computed WITHOUT any unpartitioned Window, the same
    two-pass shape as ``_banded_cumulative`` (band projection off a
    broadcast min/max, broadcast theta-join offsets, band-partitioned
    within-window).

    EXACT whenever sum_col is DECIMAL/integer (additions regroup
    freely) and (value_col, tiebreak_col) is a total order, which every
    caller here guarantees.  Serves the dimension-frame rankers
    (win_cumulative_share, agg_gini_revenue) and the order-by-time
    prefix shapes (ts_changepoint_cusum: order by day, sum
    deviations).

    Expressions build as SQL text (r16, the similarity.dot rationale): this
    helper sits under ~10 stats/window keys and its Column-API build
    cost ~0.2 s of py4j round trips per invocation; the parsed strings
    yield the same Catalyst trees (double literal `{n_bands}.0D`,
    explicit ROWS frame = the rowsBetween the Column form pinned)."""
    sum_col = sum_col or value_col

    v = f"CAST(`{value_col}` AS DOUBLE)"
    rng = df.agg(
        F.expr(f"MIN({v}) AS vmin"), F.expr(f"MAX({v}) AS vmax")
    )
    pos = f"(vmax - {v})" if descending else f"({v} - vmin)"
    band = (
        f"CASE WHEN vmax = vmin THEN 0 ELSE LEAST(CAST(FLOOR({pos} /"
        f" ((vmax - vmin) / {float(n_bands)}D)) AS INT), {n_bands - 1}) END AS band"
    )
    cols = [f"`{c}`" for c in df.columns]
    banded = df.crossJoin(F.broadcast(rng)).selectExpr(*cols, band)
    totals = banded.groupBy("band").agg(
        F.expr(f"SUM(`{sum_col}`) AS bsum"),
        F.expr("CAST(COUNT(1) AS BIGINT) AS bcnt"),
    )
    off = (
        totals.alias("x")
        .join(F.broadcast(totals.alias("y")), F.col("y.band") < F.col("x.band"), "left")
        .groupBy(F.col("x.band").alias("band"))
        .agg(
            F.expr("COALESCE(SUM(y.bsum), 0) AS off_sum"),
            F.expr("CAST(COALESCE(SUM(y.bcnt), 0) AS BIGINT) AS off_cnt"),
        )
    )
    dirn = "DESC" if descending else "ASC"
    over = (
        f"OVER (PARTITION BY band ORDER BY `{value_col}` {dirn}, `{tiebreak_col}` ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return banded.join(F.broadcast(off), "band").selectExpr(
        *cols,
        f"off_sum + SUM(`{sum_col}`) {over} AS run_sum",
        f"CAST(off_cnt + COUNT(1) {over} AS BIGINT) AS rnk",
    )


def banded_threshold_stats(df, value_col: str, sum_col: str, thresholds,
                           n_bands: int = PREFIX_BANDS):
    """Order-statistic LOOKUP special case of :func:`banded_running`
    (r16, guide §1.2 step 1 — don't compute things you throw away):
    for each threshold k in ``thresholds`` (a small frame with columns
    ``k`` BIGINT plus any carry-through label columns), return the
    first row in (value_col ASC) order whose inclusive running
    SUM(sum_col) reaches k — as ``(…labels, k, v_at, run_at)``.

    Where banded_running materializes the prefix for EVERY input row
    and the caller then filters to the crossing, this computes band
    totals, locates the ONE band containing each crossing
    (off_sum < k ≤ off_sum + bsum — run_sum is monotone in v, so the
    global minimum hit row lives there), and pays the within-band
    window only for that band's rows.  Value-identical to the
    banded_running + ``min(CASE WHEN run_sum >= k …)`` form (A/B at
    sf0.1 on the conformal quantile: 0.88 → 0.61 s, same row); at
    scale the window input drops from |distinct values| to
    |distinct values| / n_bands per threshold.  Ascending only —
    every order-statistic caller reads the smallest crossing value.
    A threshold with no crossing (k > total, or an empty frame)
    yields no output row — callers keep their 1-row contract with an
    outer aggregate, exactly as they did over the filtered run frame.

    PRECONDITION: ``sum_col`` must be strictly positive (row counts —
    both current callers aggregate COUNT(1) frames), because the
    band-crossing test assumes the running sum is monotone.  A
    signed/NULLable weight column (agg_weighted_percentile_exact's
    quantity sums under the negmeasures/nullmeasures shapes) has no
    unique crossing band — that key stays on banded_running."""
    v = f"CAST(`{value_col}` AS DOUBLE)"
    rng = df.agg(F.expr(f"MIN({v}) AS vmin"), F.expr(f"MAX({v}) AS vmax"))
    band = (
        f"CASE WHEN vmax = vmin THEN 0 ELSE LEAST(CAST(FLOOR(({v} - vmin) /"
        f" ((vmax - vmin) / {float(n_bands)}D)) AS INT), {n_bands - 1}) END AS band"
    )
    cols = [f"`{c}`" for c in df.columns]
    banded = df.crossJoin(F.broadcast(rng)).selectExpr(*cols, band)
    totals = banded.groupBy("band").agg(F.expr(f"SUM(`{sum_col}`) AS bsum"))
    off = (
        totals.alias("x")
        .join(F.broadcast(totals.alias("y")), F.col("y.band") < F.col("x.band"), "left")
        .groupBy(F.col("x.band").alias("band"))
        .agg(F.expr("COALESCE(SUM(y.bsum), 0) AS off_sum"))
        .join(totals, "band")
    )
    lab = [c for c in thresholds.columns if c != "k"]
    target = (
        off.crossJoin(F.broadcast(thresholds))
        .where((F.col("off_sum") < F.col("k")) & (F.col("off_sum") + F.col("bsum") >= F.col("k")))
        .select("band", "off_sum", "k", *lab)
    )
    cand = banded.join(F.broadcast(target), "band")
    # the window must partition by every threshold-identifying column,
    # not just k: two label rows carrying the SAME k (all ten equidepth
    # bins target rank 1 on a 1-row corpus) otherwise land in one
    # partition and the duplicated candidate rows accumulate across
    # labels (caught by the `single` shape sweep, r16)
    part = ", ".join(["band", "k", *[f"`{c}`" for c in lab]])
    over = (
        f"OVER (PARTITION BY {part} ORDER BY `{value_col}` ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    run = cand.selectExpr(
        *[f"`{c}`" for c in lab],
        "k",
        f"`{value_col}` AS v_at",
        f"off_sum + SUM(`{sum_col}`) {over} AS run_at",
    )
    return (
        run.where(F.col("run_at") >= F.col("k"))
        .groupBy("k", *lab)
        .agg(F.min("v_at").alias("v_at"), F.min("run_at").alias("run_at"))
    )
