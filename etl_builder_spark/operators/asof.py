"""C9/C10: interval join and as-of join (SURVEY.md §2, §4.2).

Spark has no native ASOF JOIN. The engine implements it as the
union-tag rewrite: tag left/right rows, union on the key+time axis,
and carry the most recent right row forward with
``last(..., ignorenulls=True)`` over a per-key time-ordered window.
That is O(n log n), one shuffle on the key, no range-join blowup, and
no per-key skew amplification — it scales exactly like a window
function. DuckDB's native ASOF JOIN is the (genuinely independent)
oracle for the rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_builder_spark.registry import REGISTRY, register
from etl_builder_spark.session import load_table


@register(
    "join_interval",
    oracle="""
        SELECT s.user_id,
               s.event_id AS signup_event_id,
               p.event_id AS purchase_event_id,
               epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
        FROM events s
        JOIN events p
          ON s.user_id = p.user_id
         AND s.event_type = 'signup'
         AND p.event_type = 'purchase'
         AND p.ts >= s.ts
         AND p.ts <= s.ts + INTERVAL 30 MINUTE
    """,
    tags=("C9",),
)
def join_interval(spark, sf_dir):
    """Interval self-join: purchases within 30 min after a signup by the
    same user. Equi key (user_id) + range residual — hash join then
    filter; at 100 TB add time-bucketing on both sides to bound the
    per-key candidate set."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type") == "signup").alias("s")
    p = e.where(F.col("event_type") == "purchase").alias("p")
    return _signup_purchase_delays(s, p, F.col("s.user_id") == F.col("p.user_id"))


def _signup_purchase_delays(s, p, key_cond):
    """Join signups ``s`` to purchases ``p`` on ``key_cond`` plus the
    exact range residual (purchase at most 30 min after the signup),
    projecting (user_id, signup_event_id, purchase_event_id, delay_us)."""
    cond = (
        key_cond
        & (F.col("p.ts") >= F.col("s.ts"))
        & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return s.join(p, cond).select(
        F.col("s.user_id").alias("user_id"),
        F.col("s.event_id").alias("signup_event_id"),
        F.col("p.event_id").alias("purchase_event_id"),
        (F.unix_micros(F.col("p.ts")) - F.unix_micros(F.col("s.ts"))).alias("delay_us"),
    )


@register(
    "join_interval_bucketed",
    oracle=REGISTRY["join_interval"].oracle,
    tags=("C9", "scale-path"),
)
def join_interval_bucketed(spark, sf_dir):
    """The 100 TB formulation of join_interval, value-checked against
    the SAME oracle as the naive form: bucket time into interval-width
    (30 min) buckets, replicate each signup into its bucket and the
    next (a ≤30-min-later purchase can only land there), equi-join on
    (user_id, bucket), then apply the exact range residual. The join
    key now bounds the per-key candidate set by bucket occupancy
    instead of per-user event count — hot users no longer quadratically
    amplify the probe side. Each matching pair survives exactly once
    because the purchase's bucket equals exactly one of the two signup
    replicas."""
    bucket_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events")

    def b(col):
        return F.floor(F.unix_micros(col) / F.lit(float(bucket_us))).cast("long")

    s = (
        e.where(F.col("event_type") == "signup")
        .withColumn("__b0", b(F.col("ts")))
        .withColumn("__b", F.explode(F.array(F.col("__b0"), F.col("__b0") + 1)))
        .alias("s")
    )
    p = e.where(F.col("event_type") == "purchase").withColumn("__b", b(F.col("ts"))).alias("p")
    return _signup_purchase_delays(
        s,
        p,
        (F.col("s.user_id") == F.col("p.user_id")) & (F.col("s.__b") == F.col("p.__b")),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Generic as-of join: for each left row, attach the most recent
    right row with ``right.ts <= left.ts`` for the same key.

    Union-tag rewrite (SURVEY §4.2): right rows sort before left rows at
    equal timestamps (tag 0 < 1) → inclusive at-or-before semantics.
    The right side must already be unique per (key, ts).

    Row-atomicity: all ``right_cols`` are packed into ONE struct and a
    single ``last(struct, ignorenulls=True)`` is carried, then expanded.
    Carrying each column through its own ``last(ignorenulls)`` would let
    the output stitch together values from DIFFERENT right rows whenever
    a right row holds NULL in one carried column but not another; the
    struct itself is never NULL for right rows (even if every field is),
    so each left row gets exactly the columns of its true as-of match.
    """
    from pyspark.sql import types as T

    lcols = [c for c in left.columns if c not in (key, left_ts)]
    rstruct_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in right_cols]
    )
    tagged_left = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(rstruct_type).alias("__r"),
    )
    tagged_right = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("__r"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last("__r", ignorenulls=True).over(w).alias("__asof"),
    )
    return (
        carried.where(F.col("__tag") == 1)
        .select(
            F.col(key),
            F.col("__ts").alias(left_ts),
            *[F.col(c) for c in lcols],
            *[F.col(f"__asof.{c}").alias(f"asof_{c}") for c in right_cols],
        )
    )


@register(
    "join_asof",
    oracle="""
        WITH signups AS (
            SELECT user_id, ts, MAX(event_id) AS event_id
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id,
               p.event_id AS purchase_id,
               p.ts,
               p.value,
               s.event_id AS asof_event_id,
               s.ts AS asof_ts
        FROM purchases p
        ASOF LEFT JOIN signups s
          ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    tags=("C10",),
)
def join_asof_latest_signup(spark, sf_dir):
    """Latest signup at-or-before each purchase, per user — via the
    union-tag rewrite, checked against DuckDB's native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    signups = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    out = asof_join(
        purchases, signups, key="user_id", right_cols=("event_id", "ts")
    )
    return out.select(
        "user_id",
        "purchase_id",
        "ts",
        "value",
        F.col("asof_event_id"),
        F.col("asof_ts"),
    )


@register(
    "join_asof_nearest",
    oracle="""
        WITH purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        ),
        cand AS (
            SELECT p.user_id, p.event_id AS purchase_id,
                   c.event_id AS click_id,
                   abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dist_us,
                   CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir
            FROM purchases p
            JOIN clicks c
              ON c.user_id = p.user_id
             AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE
                          AND p.ts + INTERVAL 30 MINUTE
        )
        SELECT user_id, purchase_id,
               CAST(substr(MIN(printf('%020d%01d%010d', dist_us, dir, click_id)),
                           22, 10) AS BIGINT) AS nearest_click_id,
               MIN(dist_us) AS dist_us
        FROM cand
        GROUP BY user_id, purchase_id
    """,
    tags=("C10b",),
)
def join_asof_nearest(spark, sf_dir):
    """NEAREST-direction as-of join: each purchase matched to its
    closest same-user click within ±30 minutes, either side — the
    sensor-fusion/attribution default where plain ASOF (backward-only,
    `join_asof`) is wrong by construction for events that arrive just
    AFTER.  Shape: a bounded interval join generates candidates (the
    ±tolerance keeps the fan-out finite — an unbounded nearest would
    be all-pairs), then per-left argmin on (distance, direction,
    event_id) — a map-side-combined MIN over a zero-padded composite
    key (DuckDB arg_min rejects struct keys; lexicographic = tuple
    order at fixed width, ties break backward-first then by id).  No
    window, no sort; same candidate-bounding posture as
    join_interval_bucketed at scale."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    tol = F.expr("INTERVAL 30 MINUTES")
    cand = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("cts") >= F.col("pts") - tol)
        & (F.col("cts") <= F.col("pts") + tol),
    )
    dist = F.abs(F.unix_micros("cts") - F.unix_micros("pts"))
    direction = F.when(F.col("cts") <= F.col("pts"), 0).otherwise(1)
    key = F.format_string("%020d%01d%010d", dist, direction, F.col("click_id"))
    return cand.groupBy("user_id", "purchase_id").agg(
        F.substring(F.min(key), 22, 10).cast("bigint").alias("nearest_click_id"),
        F.min(dist).alias("dist_us"),
    )


@register(
    "join_asof_tolerance",
    oracle="""
        WITH purchases AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
        ),
        signups AS (
            SELECT user_id, event_id, ts FROM events WHERE event_type = 'signup'
        ),
        matched AS (
            SELECT p.user_id, p.event_id AS purchase_id,
                   CAST(substr(MAX(printf('%020d%010d', epoch_us(s.ts), s.event_id)),
                               21, 10) AS BIGINT) AS asof_signup_id,
                   MAX(epoch_us(p.ts)) - MAX(epoch_us(s.ts)) AS staleness_us
            FROM purchases p
            JOIN signups s
              ON s.user_id = p.user_id
             AND s.ts <= p.ts
             AND s.ts >= p.ts - INTERVAL 2 HOUR
            GROUP BY p.user_id, p.event_id
        )
        SELECT p.user_id, p.event_id AS purchase_id,
               m.asof_signup_id, m.staleness_us,
               (m.asof_signup_id IS NULL) AS unmatched
        FROM purchases p
        LEFT JOIN matched m
          ON m.user_id = p.user_id AND m.purchase_id = p.event_id
    """,
    tags=("C10c",),
)
def join_asof_tolerance(spark, sf_dir):
    """LEFT as-of join with a staleness tolerance: each purchase takes
    the latest same-user signup no older than 2 hours, and purchases
    with nothing fresh enough KEEP their row with NULLs (pandas
    ``merge_asof(tolerance=...)`` semantics) — the feature-join
    guardrail that refuses stale features instead of silently joining
    last month's value.  The tolerance bound is what makes the
    candidate join finite (same posture as join_asof_nearest); the
    per-left argmax rides the padded (epoch, id) MAX key — map-side
    combined, no window — and a final left join restores unmatched
    rows.  Contrast join_asof (inner, unbounded lookback): same
    rewrite family, different missing-data contract."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    s = e.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("event_id").alias("signup_id"),
        F.col("ts").alias("sts"),
    )
    cand = p.join(
        s,
        (F.col("s_user") == F.col("user_id"))
        & (F.col("sts") <= F.col("pts"))
        & (F.col("sts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS")),
    )
    key = F.format_string("%020d%010d", F.unix_micros("sts"), F.col("signup_id"))
    matched = cand.groupBy("user_id", "purchase_id").agg(
        F.substring(F.max(key), 21, 10).cast("bigint").alias("asof_signup_id"),
        (
            F.max(F.unix_micros("pts")) - F.max(F.unix_micros("sts"))
        ).alias("staleness_us"),
    )
    return p.join(matched, ["user_id", "purchase_id"], "left").select(
        "user_id",
        "purchase_id",
        "asof_signup_id",
        "staleness_us",
        F.col("asof_signup_id").isNull().alias("unmatched"),
    )


@register(
    "join_asof_forward",
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        ),
        clicks AS (
            SELECT user_id, ts, MAX(event_id) AS event_id
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, ts
        )
        SELECT p.user_id,
               p.event_id AS purchase_id,
               p.ts,
               p.value,
               c.event_id AS next_click_id,
               c.ts AS next_click_ts
        FROM purchases p
        ASOF LEFT JOIN clicks c
          ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
    tags=("C10-forward",),
)
def join_asof_forward(spark, sf_dir):
    """FORWARD-direction as-of join: each purchase matched to the
    FIRST click at-or-after it, per user — the "what happened next"
    direction (next price change, next maintenance window, post-
    purchase behavior) that completes the as-of surface next to
    backward (join_asof), nearest and tolerance.  Same union-tag
    single-pass rewrite as ``asof_join``, mirrored: rows sort by
    (ts, tag DESC) so a right row at the exact left timestamp sorts
    AFTER the left row and is picked inclusively, and
    first_value(ignore nulls) over [current row, unbounded following]
    carries the next right row backward.  Checked against DuckDB's
    native forward ASOF JOIN (ON p.ts <= c.ts).

    100 TB posture: identical to the backward form — one shuffle on
    the key, one ordered window pass, no range-join explosion; right
    side deduped per (key, ts) so the pick is well-defined."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"))
    )
    # the null payload's type is DERIVED from the right side (ADVICE r6:
    # a hard-coded timestamp_ntz DDL only matched via Spark's silent
    # TimestampNTZ+Timestamp widening, value-preserving only under UTC)
    from pyspark.sql.types import StructField, StructType

    r_struct = StructType(
        [
            StructField("event_id", clicks.schema["event_id"].dataType),
            StructField("ts", clicks.schema["ts"].dataType),
        ]
    )
    left = purchases.select(
        "user_id",
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__tag"),
        "purchase_id",
        "value",
        F.lit(None).cast(r_struct).alias("__r"),
    )
    right = clicks.select(
        "user_id",
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.lit(None).cast(purchases.schema["value"].dataType).alias("value"),
        F.struct(F.col("event_id"), F.col("ts")).alias("__r"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("__ts").asc(), F.col("__tag").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = left.unionByName(right).select(
        "*", F.first("__r", ignorenulls=True).over(w).alias("__next")
    )
    return carried.where(F.col("__tag") == 1).select(
        "user_id",
        "purchase_id",
        F.col("__ts").alias("ts"),
        "value",
        F.col("__next.event_id").alias("next_click_id"),
        F.col("__next.ts").alias("next_click_ts"),
    )
