"""Funnel analysis (event-sequence analytics): per-user signup →
purchase conversion with time-to-convert — the pattern behind
MATCH_RECOGNIZE-style queries, expressed with conditional aggregates
(one shuffle on the user key, no self-join explosion).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from etl_builder_spark.folding import nan_to_null

from etl_builder_spark.policy import money
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table, round_barrier


@register(
    "funnel_signup_purchase",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(ts) FILTER (WHERE event_type = 'signup') AS first_signup,
                   COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signups,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
            FROM events
            GROUP BY user_id
        ),
        conv AS (
            SELECT p.user_id, p.first_signup, p.n_signups, p.n_purchases,
                   MIN(e.ts) AS first_purchase_after
            FROM per_user p
            LEFT JOIN events e
              ON e.user_id = p.user_id
             AND e.event_type = 'purchase'
             AND e.ts >= p.first_signup
            GROUP BY p.user_id, p.first_signup, p.n_signups, p.n_purchases
        )
        SELECT user_id, first_signup, n_signups, n_purchases,
               first_purchase_after,
               (first_purchase_after IS NOT NULL) AS converted,
               epoch_us(first_purchase_after) - epoch_us(first_signup) AS convert_us
        FROM conv
    """,
    tags=("AN-funnel",),
)
def funnel_signup_purchase(spark, sf_dir):
    """Per-user funnel: first signup, first purchase at-or-after it,
    conversion flag, exact µs time-to-convert. NULL-generating by
    design (users who never sign up / never convert)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.count(F.when(F.col("event_type") == "signup", F.lit(1))).alias("n_signups"),
        F.count(F.when(F.col("event_type") == "purchase", F.lit(1))).alias("n_purchases"),
    )
    p = per_user.alias("p")
    ev = e.where(F.col("event_type") == "purchase").alias("e")
    conv = (
        p.join(
            ev,
            (F.col("e.user_id") == F.col("p.user_id"))
            & (F.col("e.ts") >= F.col("p.first_signup")),
            "left",
        )
        .groupBy("p.user_id", "p.first_signup", "p.n_signups", "p.n_purchases")
        .agg(F.min("e.ts").alias("first_purchase_after"))
    )
    return conv.select(
        F.col("user_id"),
        F.col("first_signup"),
        F.col("n_signups"),
        F.col("n_purchases"),
        F.col("first_purchase_after"),
        F.col("first_purchase_after").isNotNull().alias("converted"),
        (
            F.unix_micros(F.col("first_purchase_after")) - F.unix_micros(F.col("first_signup"))
        ).alias("convert_us"),
    )


@register(
    "cohort_weekly_retention",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
            FROM events
        ),
        cells AS (
            -- day-diff // 7, NOT datediff('week', ...): DuckDB's week
            -- diff counts ISO-week-NUMBER transitions and skips one at
            -- a year boundary whose ISO week 1 starts in the old year
            -- (1969-12-29 → 1970-01-05 counts 0).  Both operands are
            -- Monday-truncated, so the day diff is an exact
            -- non-negative multiple of 7 (extremedates census, r14).
            SELECT f.cohort_week,
                   CAST(datediff('day', f.cohort_week, a.active_week) // 7 AS BIGINT)
                       AS week_offset,
                   COUNT(DISTINCT a.user_id) AS n_active
            FROM firsts f JOIN activity a ON a.user_id = f.user_id
            GROUP BY 1, 2
        )
        SELECT cohort_week, week_offset, n_active,
               MAX(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week) AS n_cohort,
               ROUND(CAST(n_active AS DOUBLE)
                     / MAX(CASE WHEN week_offset = 0 THEN n_active END)
                       OVER (PARTITION BY cohort_week), 6) AS retention
        FROM cells
    """,
    tags=("funnel-cohort",),
)
def cohort_weekly_retention(spark, sf_dir):
    """Weekly cohort retention — the product-analytics staple: users
    grouped by their first-activity week, each later week's activity
    expressed as a fraction of the cohort.

    The cohort size is NOT a separate aggregation: every user is by
    definition active in their own cohort week, so n_cohort equals the
    offset-0 cell, read back with a window over the tiny cells matrix.
    That leaves two scans of events (per-user firsts, distinct
    user-weeks), one user_id-keyed join, and one (cohort × offset)
    aggregate — the plan a 100 TB run wants: everything keys on
    user_id until the cells aggregate, and the window runs over an
    O(weeks²) frame regardless of event volume."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    cells = (
        firsts.join(activity, "user_id")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("active_week"), F.col("cohort_week")).cast("bigint")
            .alias("days_off"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            (F.col("days_off") / 7).cast("bigint").alias("week_offset"),
            "n_active",
        )
    )
    w = Window.partitionBy("cohort_week")
    n_cohort = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w)
    return cells.select(
        "cohort_week",
        "week_offset",
        "n_active",
        n_cohort.alias("n_cohort"),
        F.round(F.col("n_active").cast("double") / n_cohort, 6).alias("retention"),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
        WITH pairs AS (
            SELECT s.user_id,
                   MIN(epoch_us(p.ts) - epoch_us(s.ts)) AS delay_us
            FROM events s
            JOIN events p
              ON p.user_id = s.user_id
             AND s.event_type = 'signup'
             AND p.event_type = 'purchase'
             AND p.ts >= s.ts
             AND p.ts <= s.ts + INTERVAL 7 DAY
            GROUP BY s.user_id, s.event_id
        )
        SELECT COUNT(*) AS n_conversions,
               ROUND(quantile_cont(CAST(delay_us AS DOUBLE), 0.5) / 60e6, 6) AS p50_minutes,
               ROUND(quantile_cont(CAST(delay_us AS DOUBLE), 0.9) / 60e6, 6) AS p90_minutes,
               ROUND(CAST(SUM(delay_us) AS DOUBLE) / COUNT(*) / 60e6, 6) AS mean_minutes
        FROM pairs
    """,
    tags=("FUN-ttc",),
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: for each signup, the delay to its
    FIRST purchase within a 7-day attribution window, summarized as
    exact interpolated percentiles + mean — the latency half of the
    funnel (funnel_signup_purchase counts who converts; this measures
    how fast).  Delays are exact epoch-microsecond integers: MIN per
    signup is order-free, the mean divides an exact BIGINT sum, and
    the percentile interpolates between two exact values — the same
    D10 parity contract as agg_percentile.  Bounded interval join for
    candidates (±window, never all-pairs), one aggregate per signup,
    one tiny global summary."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("sid"), F.col("ts").alias("sts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    pairs = (
        s.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("pts") >= F.col("sts"))
            & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("user_id", "sid")
        .agg(F.min(F.unix_micros("pts") - F.unix_micros("sts")).alias("delay_us"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.percentile(F.col("delay_us").cast("double"), F.lit(0.5)) / 60e6, 6).alias(
            "p50_minutes"
        ),
        F.round(F.percentile(F.col("delay_us").cast("double"), F.lit(0.9)) / 60e6, 6).alias(
            "p90_minutes"
        ),
        F.round(F.sum("delay_us").cast("double") / F.count(F.lit(1)) / 60e6, 6).alias(
            "mean_minutes"
        ),
    )


@register(
    "cohort_revenue_ltv",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        purchases AS (
            SELECT user_id, date_trunc('week', ts) AS wk,
                   CAST(value AS DECIMAL(18,2)) AS v
            FROM events WHERE event_type = 'purchase'
        ),
        cells AS (
            -- day-diff // 7, not datediff('week', ...) — see
            -- cohort_weekly_retention's pin (ISO-week-number seam)
            SELECT f.cohort_week,
                   CAST(datediff('day', f.cohort_week, p.wk) // 7 AS BIGINT)
                       AS week_offset,
                   SUM(p.v) AS wk_revenue
            FROM firsts f JOIN purchases p ON p.user_id = f.user_id
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cohort_week, COUNT(*) AS n_cohort
            FROM firsts GROUP BY cohort_week
        )
        SELECT c.cohort_week, c.week_offset, s.n_cohort,
               CAST(c.wk_revenue AS DOUBLE) AS wk_revenue,
               ROUND(CAST(SUM(c.wk_revenue) OVER (
                         PARTITION BY c.cohort_week ORDER BY c.week_offset
                         ROWS UNBOUNDED PRECEDING
                     ) AS DOUBLE) / s.n_cohort, 6) AS cum_ltv_per_user
        FROM cells c JOIN sizes s USING (cohort_week)
    """,
    tags=("COHORT-ltv",),
)
def cohort_revenue_ltv(spark, sf_dir):
    """Cohort LTV curves — cumulative purchase revenue per user by
    weeks since the cohort's first activity: the revenue twin of
    cohort_weekly_retention (retention says who comes back; LTV says
    what that's worth, the payback-period input).  Revenue stays exact
    decimal through the per-cell sums AND the running cumulative (a
    decimal window sum is order-free), divided once per row by the
    exact cohort headcount.  Same two-aggregate + tiny-matrix-window
    shape as retention; everything after the per-user firsts shuffles
    on cohort_week."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    # persisted: feeds both the revenue-cell join and the cohort
    # headcounts — lazy eval would re-derive the per-user MIN over the
    # full event scan per consumer (round-5 multi-scan audit)
    firsts = (
        e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .persist()
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        money("value").alias("v"),
    )
    cells = (
        purchases.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.datediff(F.col("wk"), F.col("cohort_week")).cast("long").alias("dd"),
        )
        .agg(F.sum("v").alias("wk_revenue"))
        .select(
            "cohort_week",
            (F.col("dd") / 7).cast("long").alias("week_offset"),
            "wk_revenue",
        )
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort",
            F.col("wk_revenue").cast("double").alias("wk_revenue"),
            F.round(
                F.sum("wk_revenue").over(w).cast("double") / F.col("n_cohort"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


@register(
    "seq_pattern_strict",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_type,
                   LEAD(event_type, 1) OVER w AS nxt1,
                   LEAD(event_type, 2) OVER w AS nxt2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        hits AS (
            SELECT user_id, ts
            FROM seq
            WHERE event_type = 'view' AND nxt1 = 'click' AND nxt2 = 'purchase'
        )
        SELECT user_id, COUNT(*) AS n_matches, MIN(ts) AS first_match_ts
        FROM hits GROUP BY user_id
    """,
    tags=("seq-pattern",),
)
def seq_pattern_strict(spark, sf_dir):
    """MATCH_RECOGNIZE-lite: detect the STRICTLY CONSECUTIVE event
    sequence view → click → purchase per user (no intervening events
    allowed — the adjacency distinguishes this from the funnel keys,
    which allow arbitrary gaps between stages).  The standard SQL
    closed form: LEAD(type, 1) / LEAD(type, 2) over the per-user
    event order turns "next three rows match the pattern" into a
    single-row predicate — one window pass, no self-joins, no
    pattern-automaton state.

    100 TB posture: one hash shuffle on user_id shared by the window
    and the rollup; per-user sort is the only per-key cost, and the
    pattern predicate evaluates rows independently after the leads
    are materialized.  Fixed-length strict patterns stay closed-form
    (k-1 LEADs); variable-length patterns (A B* C) are the stateful
    escape hatch (applyInPandasWithState — streaming/batch_twins).
    Ordering ties pin on event_id (policy §7.2)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    )
    hits = seq.where(
        (F.col("event_type") == "view") & (F.col("nxt1") == "click") & (F.col("nxt2") == "purchase")
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("ts").alias("first_match_ts"),
    )


@register(
    "attribution_last_touch",
    oracle="""
        WITH touched AS (
            SELECT event_type, value,
                   LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS touch
            FROM events
        )
        SELECT COALESCE(touch, 'direct') AS channel,
               COUNT(*) AS n_conversions,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        FROM touched
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    tags=("funnel-attribution",),
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: every purchase is credited to the most
    recent PRECEDING non-purchase event of the same user (the
    marketing-analytics baseline model; purchases with no prior touch
    fall into 'direct').  The closed form is a single
    last(ignorenulls) over the strictly-preceding row frame — no
    as-of self-join, no per-conversion scan-back.

    100 TB posture: one hash exchange on user_id + per-user sort
    (shared with every other per-user window in the engine), then a
    5-group rollup with map-side combine; revenue sums are exact
    DECIMAL (policy §7.2).  Multi-touch models (linear / time-decay)
    are the same frame with a weight expression instead of LAST_VALUE."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True
    ).over(w)
    return (
        e.select("event_type", "value", touch.alias("touch"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(money("value")).cast("double").alias("attributed_value"),
        )
    )


@register(
    "funnel_within_24h",
    oracle="""
        WITH tagged AS (
            SELECT user_id, event_id, ts, event_type,
                   LAST_VALUE(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END
                              IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_signup_us
            FROM events
        ),
        conv AS (
            SELECT user_id, ts,
                   epoch_us(ts) - last_signup_us AS delay_us
            FROM tagged
            WHERE event_type = 'purchase'
              AND last_signup_us IS NOT NULL
              AND epoch_us(ts) - last_signup_us <= 86400000000
        )
        SELECT user_id,
               COUNT(*) AS n_conversions,
               MIN(ts) AS first_conversion_ts,
               CAST(MIN(delay_us) AS DOUBLE) / 60000000.0 AS min_delay_minutes
        FROM conv GROUP BY user_id
    """,
    tags=("funnel-windowed",),
)
def funnel_within_24h(spark, sf_dir):
    """TIME-BOUNDED funnel (the windowFunnel shape): a purchase counts
    as a conversion only when it lands within 24 hours of the user's
    most recent signup — the attribution-window rule every
    trial-to-paid and campaign funnel applies, which the unbounded
    funnel (funnel_signup_purchase) cannot express.  The closed form
    carries the last signup time forward with last(ignorenulls) over
    the strictly-preceding frame (exactly the attribution_last_touch
    machinery) and turns the window rule into a row-local µs
    predicate — no per-conversion scan-back, no range self-join.

    100 TB posture: one exchange on user_id shared by the carry
    window and the rollup; delays are exact epoch-µs integers
    (policy §7.2 — a seconds-truncated comparison would disagree with
    the oracle within 1s of the 24h boundary)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.unix_micros(F.col("ts"))),
        ignorenulls=True,
    ).over(w)
    tagged = e.select(
        "user_id", "ts", "event_type", last_signup.alias("last_signup_us")
    )
    delay = F.unix_micros(F.col("ts")) - F.col("last_signup_us")
    conv = tagged.where(
        (F.col("event_type") == "purchase")
        & F.col("last_signup_us").isNotNull()
        & (delay <= 86_400_000_000)
    ).select("user_id", "ts", delay.alias("delay_us"))
    return conv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.min("ts").alias("first_conversion_ts"),
        (F.min("delay_us").cast("double") / F.lit(60000000.0)).alias("min_delay_minutes"),
    )


@register(
    "seq_transition_matrix",
    oracle="""
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        cells AS (
            SELECT from_type, to_type, COUNT(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        ),
        rowtot AS (
            SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM cells GROUP BY 1
        )
        SELECT c.from_type, c.to_type, c.n,
               ROUND(CAST(c.n AS DOUBLE) / r.row_n, 6) AS p_transition
        FROM cells c JOIN rowtot r USING (from_type)
    """,
    tags=("seq-markov",),
)
def seq_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over the per-user event
    stream: for every (from → to) pair of CONSECUTIVE events, the
    count and the row-normalized transition probability — the
    next-event model behind journey prediction, anomaly scoring
    (improbable transitions), and the stationary-flow analysis
    product teams read as "where do users go from X".  One LEAD pass
    turns sequence pairing into a row-local tuple; the 5×5 matrix
    aggregates with map-side combine; row totals derive from the
    persisted cell frame (no second pass).

    100 TB posture: one exchange on user_id + per-user sort (the
    shared sequence-analytics partitioning), then a |types|²-row
    aggregate — higher-order chains are the same shape with LEAD(k)
    composite keys; probabilities are single IEEE divisions of exact
    counts (policy §7.2)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    cells = (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    rowtot = cells.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("row_n"))
    return cells.join(F.broadcast(rowtot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias("p_transition"),
    )


@register(
    "funnel_three_stage",
    oracle="""
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS ts1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, MIN(e.ts) AS ts2
            FROM events e JOIN t1 ON t1.user_id = e.user_id
            WHERE e.event_type = 'view' AND e.ts > t1.ts1
            GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, MIN(e.ts) AS ts3
            FROM events e JOIN t2 ON t2.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
            GROUP BY e.user_id
        ),
        stages AS (
            SELECT 1 AS stage_no, 'signup' AS stage, COUNT(*) AS n_users FROM t1
            UNION ALL SELECT 2, 'view_after_signup', COUNT(*) FROM t2
            UNION ALL SELECT 3, 'purchase_after_view', COUNT(*) FROM t3
        )
        SELECT stage_no, stage, n_users,
               ROUND(CAST(n_users AS DOUBLE)
                     / NULLIF(LAG(n_users, 1, n_users) OVER (ORDER BY stage_no), 0), 6)
                   AS conversion_from_prev,
               ROUND(CAST(n_users AS DOUBLE)
                     / NULLIF(FIRST_VALUE(n_users) OVER (ORDER BY stage_no), 0), 6)
                   AS conversion_from_top
        FROM stages
    """,
    tags=("funnel-staged",),
)
def funnel_three_stage(spark, sf_dir):
    """Staged SEQUENTIAL funnel: signup → (any later) view → (any
    later) purchase, with per-stage reach and drop-off — the ordered
    multi-step funnel where each stage's anchor is the PREVIOUS
    stage's first completion, not the raw event stream (a view before
    the signup does not count; a purchase before the qualifying view
    does not count).  Each stage is one MIN aggregate over events
    joined to the previous stage's anchors — k stages = k user-keyed
    aggregate-join rounds, all sharing the user_id partitioning, never
    a k-way self-join explosion.  The stage summary windows run on a
    3-row frame.

    100 TB posture: per stage, the event scan prunes to one event
    type and the join side is the shrinking anchor set (broadcast
    once it fits); conversion ratios are single IEEE divisions of
    exact counts (policy §7.2).  seq_pattern_strict is the ADJACENT
    variant; funnel_within_24h bounds the gap; this one orders
    unbounded stages."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    t1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts1"))
        .persist()
    )
    t2 = (
        e.where(F.col("event_type") == "view")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("ts1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts2"))
        .persist()
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("ts2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts3"))
    )
    stages = (
        t1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("stage_no"), F.lit("signup").alias("stage"), "n_users")
        .unionByName(
            t2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage_no"), F.lit("view_after_signup").alias("stage"), "n_users"
            )
        )
        .unionByName(
            t3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage_no"),
                F.lit("purchase_after_view").alias("stage"),
                "n_users",
            )
        )
    )
    w = Window.orderBy("stage_no")
    prev = F.lag("n_users", 1).over(w)
    # NULLIF-guarded denominators on BOTH engines (round-12 degenerate
    # sweep): an empty events table makes every stage count 0, and the
    # 0/0 conversion ratio must be a defined NULL, not DIVIDE_BY_ZERO.
    return stages.select(
        "stage_no",
        "stage",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.nullif(F.coalesce(prev, F.col("n_users")), F.lit(0)),
            6,
        ).alias("conversion_from_prev"),
        F.round(
            F.col("n_users").cast("double") / F.nullif(F.first("n_users").over(w), F.lit(0)),
            6,
        ).alias("conversion_from_top"),
    )


def _journey_sql() -> str:
    """Shared journey CTE: each non-purchase touch is assigned to the
    user's NEXT purchase (journey j = preceding-purchase count + 1);
    touches after the last purchase drop out via the inner join."""
    return """
        WITH seq AS (
            SELECT user_id, event_id, ts, event_type, value,
                   COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                                OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            0) AS cpb
            FROM events
        ),
        purch AS (
            SELECT user_id, cpb + 1 AS j, epoch_us(ts) AS p_us,
                   CAST(ROUND(value * 100) AS BIGINT) AS vc
            FROM seq WHERE event_type = 'purchase'
        ),
        touch AS (
            SELECT user_id, cpb + 1 AS j, event_type AS channel, ts, event_id,
                   epoch_us(ts) AS t_us
            FROM seq WHERE event_type <> 'purchase'
        ),
        journey AS (
            SELECT t.user_id, t.j, t.channel, p.vc, p.p_us, t.t_us,
                   ROW_NUMBER() OVER (PARTITION BY t.user_id, t.j
                                      ORDER BY t.ts, t.event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY t.user_id, t.j) AS n
            FROM touch t JOIN purch p ON t.user_id = p.user_id AND t.j = p.j
        )
    """


def _journey(spark, sf_dir):
    """Spark twin of ``_journey_sql``: one exchange on user_id shared by
    the preceding-purchase-count carry window, then an equi-join of the
    touch and purchase halves on (user_id, journey#) and the per-journey
    rank/size windows on the same key — three windows, ONE partitioning
    family, no scan-back self-join."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cpb = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w_prev),
        F.lit(0),
    )
    seq = e.select(
        "user_id", "event_id", "ts", "event_type", "value", cpb.alias("cpb")
    )
    purch = seq.where(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("cpb") + 1).alias("j"),
        F.unix_micros("ts").alias("p_us"),
        nan_to_null(F.round(F.col("value") * 100)).cast("bigint").alias("vc"),
    )
    touch = seq.where(F.col("event_type") != "purchase").select(
        "user_id",
        (F.col("cpb") + 1).alias("j"),
        F.col("event_type").alias("channel"),
        "ts",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
    )
    jw = Window.partitionBy("user_id", "j").orderBy("ts", "event_id")
    jn = Window.partitionBy("user_id", "j")
    return (
        touch.join(purch, ["user_id", "j"])
        .select(
            "user_id",
            "j",
            "channel",
            "vc",
            "p_us",
            "t_us",
            F.row_number().over(jw).alias("rn"),
            F.count(F.lit(1)).over(jn).alias("n"),
        )
    )


@register(
    "attribution_position_based",
    oracle=_journey_sql()
    + """
        , credited AS (
            SELECT channel,
                   CAST(ROUND(vc * (CASE WHEN n = 1 THEN 1.0
                                         WHEN n = 2 THEN 0.5
                                         WHEN rn = 1 OR rn = n THEN 0.4
                                         ELSE 0.2 / (n - 2) END)) AS BIGINT)
                       AS credit_cents
            FROM journey
        )
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_cents) AS BIGINT) AS credit_cents,
               ROUND(CAST(SUM(credit_cents) AS DOUBLE) / 100, 2) AS attributed_value
        FROM credited
        GROUP BY channel
    """,
    tags=("funnel-attribution",),
)
def attribution_position_based(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: within each
    conversion journey (the touches between consecutive purchases of a
    user), the first and last touch each earn 40% of the purchase
    value and the middle touches split the remaining 20% evenly
    (degenerate journeys: one touch takes 100%, two touches split
    50/50).  Per-touch credit is rounded to integer cents BEFORE the
    channel rollup, so every cross-row accumulation is exact BIGINT
    (policy §7.2 round-then-sum) and the only floats are the per-row
    weight expression — identical text in both engines.

    100 TB posture: the journey build is the attribution_last_touch
    machinery generalized — every window and the touch↔purchase join
    share ONE (user_id)-family partitioning, so the whole model is a
    single exchange over events plus a ≤|channels|-row rollup; no
    per-conversion scan-back, no ts-range self-join."""
    j = _journey(spark, sf_dir)
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    credit = F.round(F.col("vc") * weight).cast("bigint")
    return (
        j.select("channel", credit.alias("credit_cents"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("credit_cents").cast("bigint").alias("credit_cents"),
            F.round(F.sum("credit_cents").cast("double") / 100, 2).alias(
                "attributed_value"
            ),
        )
    )


#: time-decay half-life (µs): weight halves every 6 hours of touch age;
#: the exponent caps at 40 so the integer weight 2^(40-e) stays exact.
DECAY_HALF_US = 21_600_000_000
DECAY_CAP = 40


@register(
    "attribution_time_decay",
    oracle=_journey_sql()
    + f"""
        , weighted AS (
            SELECT channel, user_id, j, vc,
                   CAST(POWER(2.0, {DECAY_CAP} - LEAST((p_us - t_us) // {DECAY_HALF_US},
                                                       {DECAY_CAP})) AS BIGINT) AS iw
            FROM journey
        ),
        normed AS (
            SELECT channel,
                   CAST(ROUND(vc * (CAST(iw AS DOUBLE)
                                    / SUM(iw) OVER (PARTITION BY user_id, j)))
                        AS BIGINT) AS credit_cents
            FROM weighted
        )
        SELECT channel,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(credit_cents) AS BIGINT) AS credit_cents,
               ROUND(CAST(SUM(credit_cents) AS DOUBLE) / 100, 2) AS attributed_value
        FROM normed
        GROUP BY channel
    """,
    tags=("funnel-attribution",),
)
def attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution: each touch's share of its
    journey's purchase value is proportional to 2^(−age/6h), so recent
    touches dominate.  The decay weight is kept EXACT: the exponent is
    the integer 6-hour bucket of the µs age (capped at {DECAY_CAP}),
    so the raw weight 2^(cap−e) is an exact BIGINT, the per-journey
    normalizer is an exact integer SUM, and per-touch credit rounds to
    integer cents before the channel rollup (round-then-sum).  The
    only float is the per-row share division — identical in both
    engines.

    100 TB posture: same single (user_id)-family exchange as
    attribution_position_based; the normalizer is one more window on
    the ALREADY-partitioned journey frame, and the rollup carries
    ≤|channels| groups."""
    from pyspark.sql import Window

    j = _journey(spark, sf_dir)
    e_exp = F.least(
        F.floor((F.col("p_us") - F.col("t_us")) / DECAY_HALF_US), F.lit(DECAY_CAP)
    )
    iw = F.pow(F.lit(2.0), F.lit(DECAY_CAP) - e_exp).cast("bigint")
    jn = Window.partitionBy("user_id", "j")
    weighted = j.select("channel", "user_id", "j", "vc", iw.alias("iw"))
    credit = F.round(
        F.col("vc") * (F.col("iw").cast("double") / F.sum("iw").over(jn))
    ).cast("bigint")
    return (
        weighted.select("channel", credit.alias("credit_cents"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("credit_cents").cast("bigint").alias("credit_cents"),
            F.round(F.sum("credit_cents").cast("double") / 100, 2).alias(
                "attributed_value"
            ),
        )
    )


def _markov_state(spark, sf_dir):
    """Build the markov iteration state and return the four step
    vectors v0..v3.  The |states|² transition-cell frame (the one
    expensive pass — the LEAD-window event pairing — feeds both p and
    states, guide §5), the DECIMAL(10,6) transition frame and the state
    list are iteration-invariant and persisted; Spark's cache reuses
    them across calls.  Each step v1..v3 passes through
    ``session.round_barrier``: the final report joins all four vectors,
    and an uncut v_i would re-derive its whole iteration chain once per
    downstream reference."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    cells = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    rowtot = cells.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_n")
    )
    p = (
        cells.join(rowtot, "from_type")
        .select(
            "from_type",
            "to_type",
            F.round(F.col("n").cast("double") / F.col("row_n"), 6)
            .cast("decimal(10,6)")
            .alias("p"),
        )
        .persist()
    )
    states = cells.select(F.col("from_type").alias("s")).distinct().persist()
    k = states.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    v = states.crossJoin(F.broadcast(k)).select(
        "s", F.round(F.lit(1.0) / F.col("k"), 9).cast("decimal(20,9)").alias("v")
    )
    vs = [v]
    for _ in range(3):
        prev = vs[-1]
        nxt = (
            states.join(p, p["to_type"] == states["s"], "left")
            .join(
                prev.withColumnRenamed("s", "ps"),
                F.col("from_type") == F.col("ps"),
                "left",
            )
            .groupBy("s")
            .agg(
                F.coalesce(
                    F.sum(
                        F.round(F.col("v") * F.col("p"), 9).cast("decimal(20,9)")
                    ),
                    F.lit(0),
                )
                .cast("decimal(20,9)")
                .alias("v")
            )
        )
        vs.append(round_barrier(nxt))
    return vs


@register(
    "seq_markov_stationary",
    oracle="""
        WITH seq AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        cells AS (
            SELECT from_type, to_type, COUNT(*) AS n
            FROM seq WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        ),
        rowtot AS (
            SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
            FROM cells GROUP BY 1
        ),
        p AS (
            SELECT c.from_type, c.to_type,
                   CAST(ROUND(CAST(c.n AS DOUBLE) / r.row_n, 6)
                        AS DECIMAL(10,6)) AS p
            FROM cells c JOIN rowtot r USING (from_type)
        ),
        states AS (SELECT DISTINCT from_type AS s FROM cells),
        ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
        v0 AS (
            SELECT s, CAST(ROUND(1.0 / k, 9) AS DECIMAL(20,9)) AS v
            FROM states CROSS JOIN ns
        ),
        v1 AS (
            SELECT st.s,
                   CAST(COALESCE(SUM(CAST(ROUND(v0.v * p.p, 9)
                                          AS DECIMAL(20,9))), 0)
                        AS DECIMAL(20,9)) AS v
            FROM states st
            LEFT JOIN p ON p.to_type = st.s
            LEFT JOIN v0 ON v0.s = p.from_type
            GROUP BY st.s
        ),
        v2 AS (
            SELECT st.s,
                   CAST(COALESCE(SUM(CAST(ROUND(v1.v * p.p, 9)
                                          AS DECIMAL(20,9))), 0)
                        AS DECIMAL(20,9)) AS v
            FROM states st
            LEFT JOIN p ON p.to_type = st.s
            LEFT JOIN v1 ON v1.s = p.from_type
            GROUP BY st.s
        ),
        v3 AS (
            SELECT st.s,
                   CAST(COALESCE(SUM(CAST(ROUND(v2.v * p.p, 9)
                                          AS DECIMAL(20,9))), 0)
                        AS DECIMAL(20,9)) AS v
            FROM states st
            LEFT JOIN p ON p.to_type = st.s
            LEFT JOIN v2 ON v2.s = p.from_type
            GROUP BY st.s
        )
        SELECT v0.s AS state,
               CAST(v0.v AS DOUBLE) AS p0,
               CAST(v1.v AS DOUBLE) AS p1,
               CAST(v2.v AS DOUBLE) AS p2,
               CAST(v3.v AS DOUBLE) AS p3
        FROM v0 JOIN v1 ON v1.s = v0.s
                JOIN v2 ON v2.s = v0.s
                JOIN v3 ON v3.s = v0.s
        ORDER BY state
    """,
    tags=("seq-markov",),
)
def seq_markov_stationary(spark, sf_dir):
    """Power iteration toward the stationary distribution of the
    seq_transition_matrix chain: three synchronous vᵀP steps from the
    uniform vector — the "where does traffic settle" number behind
    journey equilibrium analysis (and structurally the same
    relational matvec as graph_pagerank_fixed, on a state space
    instead of a node space).

    Exactness: after ONE rounding of each transition probability to
    DECIMAL(10,6), every iteration is pure decimal arithmetic —
    products rounded once to 9 dp, exact decimal sums — so there is
    NO float accumulation order anywhere; both engines carry
    bit-identical vectors through all three steps.  Absorbing states
    (no outgoing mass reaching them) coalesce to exact 0.  Width
    note: (20,9)·(10,6) keeps the product at precision 31 ≤ 38 —
    wider operands would trip Spark's allowPrecisionLoss scale
    clipping (product scale silently truncates to 6) and break
    cross-engine parity.

    100 TB posture: the LEAD pairing shuffles once on user_id (the
    unavoidable sequence sort); everything downstream lives on the
    |states|² cell frame — broadcast-sized for any real event
    taxonomy.  More iterations = more 25-row joins, not more scans;
    convergence to the true stationary vector is geometric in the
    spectral gap."""
    vs = _markov_state(spark, sf_dir)
    out = vs[0].select("s", F.col("v").cast("double").alias("p0"))
    for i, vi in enumerate(vs[1:], start=1):
        out = out.join(
            vi.select("s", F.col("v").cast("double").alias(f"p{i}")), "s"
        )
    return out.select(
        F.col("s").alias("state"), "p0", "p1", "p2", "p3"
    ).orderBy("state")


@register(
    "cohort_segment_migration",
    oracle="""
        WITH spend AS (
            SELECT o_custkey AS cust,
                   CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                        THEN 1 ELSE 0 END AS yr,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                        AS BIGINT) AS cents
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1, 2
        ),
        seg AS (
            SELECT cust, yr,
                   CASE WHEN cents < 10000000 THEN 'low'
                        WHEN cents < 30000000 THEN 'mid'
                        ELSE 'high' END AS seg
            FROM spend
        ),
        wide AS (
            SELECT COALESCE(a.cust, b.cust) AS cust,
                   COALESCE(a.seg, 'absent') AS seg_1996,
                   COALESCE(b.seg, 'absent') AS seg_1997
            FROM (SELECT * FROM seg WHERE yr = 0) a
            FULL OUTER JOIN (SELECT * FROM seg WHERE yr = 1) b
              ON a.cust = b.cust
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wide)
        SELECT seg_1996, seg_1997,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n, 6) AS share
        FROM wide CROSS JOIN tot
        GROUP BY seg_1996, seg_1997, tot.n
        ORDER BY seg_1996, seg_1997
    """,
    tags=("cohort-migration",),
)
def cohort_segment_migration(spark, sf_dir):
    """Customer value-segment migration matrix, 1996 → 1997: each
    customer lands in a FIXED spend band (< $100k / $100–300k /
    ≥ $300k, or 'absent') per year, and the matrix counts every
    (from, to) flow — the churn/upgrade/downgrade view a retention
    team reads ('high→absent' is the churn cell that matters).
    Fixed bands, not terciles: data-dependent cutoffs would make the
    matrix drift with the data it segments (the
    dq_distribution_drift design rule) and would need a global
    quantile pass.

    Exactness: per-(customer, year) spend is an exact BIGINT cent
    sum; banding is integer compares; the matrix and its shares are
    exact counts with one float division.

    100 TB posture: one date-pruned scan → (customer, year)
    aggregate (map-side combined) → per-year split FULL OUTER joined
    on customer (one co-partitioned shuffle — both sides already
    hash on cust) → ≤16-cell matrix."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    yr = F.when(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"), 1
    ).otherwise(0)
    spend = (
        o.select(
            F.col("o_custkey").alias("cust"),
            yr.alias("yr"),
            (money("o_totalprice") * 100).alias("c"),
        )
        .groupBy("cust", "yr")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    seg = spend.select(
        "cust",
        "yr",
        F.when(F.col("cents") < 10_000_000, "low")
        .when(F.col("cents") < 30_000_000, "mid")
        .otherwise("high")
        .alias("seg"),
    ).persist()
    a = seg.where(F.col("yr") == 0).select("cust", F.col("seg").alias("sa"))
    b = seg.where(F.col("yr") == 1).select(
        F.col("cust").alias("custb"), F.col("seg").alias("sb")
    )
    wide = a.join(b, a["cust"] == b["custb"], "full").select(
        F.coalesce(F.col("sa"), F.lit("absent")).alias("seg_1996"),
        F.coalesce(F.col("sb"), F.lit("absent")).alias("seg_1997"),
    )
    tot = wide.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        wide.groupBy("seg_1996", "seg_1997")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .crossJoin(F.broadcast(tot))
        .select(
            "seg_1996",
            "seg_1997",
            "n_customers",
            F.round(F.col("n_customers").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy("seg_1996", "seg_1997")
    )
