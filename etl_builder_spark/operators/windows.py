"""E. Window functions (SURVEY.md §2 E1-E6).

Partitioned windows shuffle once on the partition key and sort within
partitions — fully parallel. The one hazard is the UNPARTITIONED
ordered window (E6): Spark plans it as a single partition, which is a
deliberate, documented exception run only on a small slice.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_builder_spark.policy import money
from etl_builder_spark.registry import REGISTRY, register
from etl_builder_spark.session import load_table


@register(
    "win_ranking",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER()   OVER w AS rn,
               RANK()         OVER w AS rnk,
               DENSE_RANK()   OVER w AS drnk,
               NTILE(2)       OVER w AS half,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               ROUND(CUME_DIST()    OVER w, 6) AS cume
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber)
    """,
    tags=("E1",),
)
def win_ranking(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc(), "l_linenumber")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(2).over(w).alias("half"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_topk_per_group",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM (
            SELECT l_orderkey, l_linenumber, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_extendedprice DESC, l_linenumber) AS rn
            FROM lineitem
        ) WHERE rn <= 2
    """,
    tags=("E2",),
)
def win_topk_per_group(spark, sf_dir):
    """Top-k per group via row_number ≤ k — Spark pushes a per-partition
    group-limit before the shuffle (WindowGroupLimit), so only k rows
    per group per mapper move."""
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(F.col("l_extendedprice").desc(), "l_linenumber")
    return (
        l.select("l_orderkey", "l_linenumber", "l_extendedprice", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 2)
        .drop("rn")
    )


@register(
    "win_lead_lag",
    oracle="""
        SELECT event_id, user_id,
               LAG(value)  OVER w AS prev_value,
               LEAD(value) OVER w AS next_value,
               FIRST_VALUE(event_type) OVER w AS first_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("E3",),
)
def win_lead_lag(spark, sf_dir):
    """lead/lag/first over per-user event-time order. Gap emitted as
    exact integer microseconds (unix_micros ↔ epoch_us) — no float
    timestamp math."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_type").over(w).alias("first_type"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@register(
    "win_running_frame",
    oracle="""
        SELECT c_custkey, c_nationkey,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (
                   PARTITION BY c_nationkey ORDER BY c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_bal
        FROM customer
    """,
    tags=("E4",),
)
def win_running_frame(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.sum(money("c_acctbal")).over(w).cast("double").alias("running_bal"),
    )


@register(
    "win_sliding_range",
    oracle="""
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_1h,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
        FROM events
    """,
    tags=("E5",),
)
def win_sliding_range(spark, sf_dir):
    """RANGE frame over a numeric event-time axis (µs since epoch):
    trailing 1-hour sum per user — the batch mirror of a sliding
    streaming window, expressed as one partitioned sort."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(money("value")).over(w).cast("double").alias("trailing_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@register(
    "win_unpartitioned_caution",
    oracle="""
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   ORDER BY o_totalprice DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        FROM orders
        WHERE o_orderkey < 1000
    """,
    tags=("E6",),
)
def win_unpartitioned_caution(spark, sf_dir):
    """DOCUMENTED HAZARD: a global ordered window collapses to ONE
    partition — never run unpartitioned windows on unbounded input at
    scale. Declared only on a bounded slice; the scale-safe alternative
    is a partitioned window or a two-pass prefix-sum."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.sum(money("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_total"),
    )


@register(
    "win_ntile_quartiles",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               -- NULLS FIRST pins the engines' divergent defaults
               -- (Spark asc = NULLS FIRST, DuckDB = NULLS LAST): an
               -- unknown price sorts first on both (r12 nullmeasures)
               NTILE(4) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice NULLS FIRST, o_orderkey
               ) AS price_quartile
        FROM orders
    """,
    tags=("E-ntile",),
)
def win_ntile_quartiles(spark, sf_dir):
    """Quartile bucketing per group via NTILE — the feature-binning
    window (equal-COUNT buckets, unlike the fixed-WIDTH bins of the
    PSI monitor).  NTILE assigns by row position, so the ORDER BY
    carries the unique key as tiebreaker — without it, equal prices
    straddling a bucket boundary would land nondeterministically and
    no two engines (or two runs) would agree."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    # asc_nulls_first is Spark's asc default — written out because the
    # oracle must pin it explicitly (DuckDB defaults NULLS LAST)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_first(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
    )


@register(
    "win_percent_rank_cume",
    oracle="""
        SELECT c_custkey, c_nationkey,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume,
               c_acctbal AS acctbal
        FROM customer
        -- NULLS FIRST pins the engines' divergent defaults (r12)
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal NULLS FIRST, c_custkey)
    """,
    tags=("E-pctrank",),
)
def win_percent_rank_cume(spark, sf_dir):
    """Relative-standing windows: PERCENT_RANK ((rank-1)/(n-1)) and
    CUME_DIST (rows ≤ current / n) of account balance within each
    nation — the normalized-score shape behind percentile features.
    Both are exact rationals of integer rank/count, so the doubles are
    bit-identical cross-engine without rounding; the unique-key
    tiebreak pins rank order under equal balances."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    # asc_nulls_first = Spark's default, pinned to match the oracle
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_first(), "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.col("c_acctbal").alias("acctbal"),
    )


@register(
    "win_gaps_islands",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        tagged AS (
            SELECT user_id, d,
                   CAST(d - DATE '2024-01-01' AS BIGINT)
                   - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS island_key
            FROM days
        )
        SELECT user_id,
               MIN(d) AS island_start,
               MAX(d) AS island_end,
               COUNT(*) AS n_days
        FROM tagged
        GROUP BY user_id, island_key
    """,
    tags=("E-islands",),
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (streak detection — the engagement/retention primitive).  The
    classic closed form: day_number − row_number is constant within a
    consecutive run, so one window plus one aggregate finds all
    islands — no self-join, no iteration.  Both the window and the
    rollup partition on user_id: a single exchange end to end."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    tagged = days.select(
        "user_id",
        "d",
        (F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
         - F.row_number().over(w)).alias("island_key"),
    )
    return tagged.groupBy("user_id", "island_key").agg(
        F.min("d").alias("island_start"),
        F.max("d").alias("island_end"),
        F.count(F.lit(1)).alias("n_days"),
    ).drop("island_key")


@register(
    "win_running_distinct",
    oracle="""
        SELECT event_id, user_id,
               COUNT(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS n_types_so_far
        FROM events
    """,
    tags=("E-rundistinct",),
)
def win_running_distinct(spark, sf_dir):
    """Running DISTINCT count per user — 'how many distinct event
    types has this user touched so far' (feature-breadth signal).
    Spark has no COUNT(DISTINCT) OVER; the equivalent is
    size(collect_set() OVER ...) — the set state is bounded by the
    type cardinality (small), NOT the row count, so the window state
    stays O(|types|) per user at any scale.  For high-cardinality
    distincts swap the set for an HLL sketch column (functions/
    sketches.py) and accept the estimate."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_so_far"),
    )


@register(
    "win_cumulative_share",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders
            GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, revenue,
                   ROW_NUMBER() OVER w AS rnk,
                   SUM(revenue) OVER (
                       w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS running,
                   SUM(revenue) OVER () AS total
            FROM rev
            WINDOW w AS (ORDER BY revenue DESC, o_custkey)
        )
        SELECT o_custkey,
               CAST(revenue AS DOUBLE) AS revenue,
               CAST(rnk AS INT) AS rnk,
               ROUND(CAST(running AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
               (CAST(running AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8) AS in_top80
        FROM ranked
    """,
    tags=("E-pareto",),
)
def win_cumulative_share(spark, sf_dir):
    """Pareto / cumulative-share analysis: customers ranked by revenue
    with each row's running share of the total — 'which customers make
    up the top 80%'.  Both the running and total sums stay in EXACT
    decimal until a single double division per row, so the shares are
    bit-identical cross-engine with no summation-order exposure.  The
    global ranking window runs over the AGGREGATED per-customer frame
    (|customers| rows, not |orders|) — the same bounded-input argument
    as vocab_top_tokens; at larger key cardinality, band the ranking
    (range-partition by revenue) before the precise within-band
    window."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum(money("o_totalprice")).alias("revenue"))
    w = Window.orderBy(F.col("revenue").desc(), "o_custkey")
    running = F.sum("revenue").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum("revenue").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    share = running.cast("double") / total.cast("double")
    return rev.select(
        "o_custkey",
        F.col("revenue").cast("double").alias("revenue"),
        F.row_number().over(w).alias("rnk"),
        F.round(share, 6).alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


@register(
    "win_running_reset",
    oracle="""
        WITH seg AS (
            SELECT event_id, user_id, ts, value,
                   CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS INT) AS segment_seq
            FROM events
        )
        SELECT event_id, user_id, ts, segment_seq,
               CAST(SUM(CAST(value AS DECIMAL(18,2)))
                   OVER (PARTITION BY user_id, segment_seq
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS running_since_purchase
        FROM seg
    """,
    tags=("E-reset",),
)
def win_running_reset(spark, sf_dir):
    """Conditionally RESETTING running total: cumulative event value
    per user that restarts after every purchase — the "spend since
    last conversion" / counter-reset idiom.  No recursion needed: a
    running count of purchases over STRICTLY PRECEDING rows assigns
    each row a segment number (the purchase row itself still belongs
    to the segment it closes), and an ordinary running sum
    partitioned by (user, segment) is the resetting total.

    100 TB posture: the segment window and the running-sum window
    share the user_id hash partitioning, so the whole operator is one
    exchange + one per-user sort (the second window's finer
    partitioning is a prefix refinement — no re-shuffle).  Money sums
    are exact DECIMAL (policy §7.2); ordering pins on event_id."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("int")
    tagged = e.select("event_id", "user_id", "ts", "value", seg.alias("segment_seq"))
    w2 = (
        Window.partitionBy("user_id", "segment_seq")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tagged.select(
        "event_id",
        "user_id",
        "ts",
        "segment_seq",
        F.sum(money("value")).over(w2).cast("double").alias("running_since_purchase"),
    )


@register(
    "win_cumulative_share_banded",
    oracle=REGISTRY["win_cumulative_share"].oracle,
    tags=("E-pareto", "SCALE-twin"),
)
def win_cumulative_share_banded(spark, sf_dir):
    """``win_cumulative_share`` WITHOUT either of its unpartitioned
    windows — the banded-prefix swap its own docstring promises ("at
    larger key cardinality, band the ranking"), proven here under the
    parent's exact oracle (the round-7 extension of the KS/MW banded
    twins; helper: operators/stats.py ``banded_running``).  The
    running revenue sum AND the global rank come from range-partitioned
    band prefix aggregation (revenue DESC, custkey tiebreak); the
    grand total swaps the parent's unbounded window for a broadcast
    1-row aggregate.  Exactness: the running sums regroup EXACT
    decimals; rank offsets are integer counts; the single
    double-division per row is the parent's own."""
    from etl_builder_spark.operators.stats import banded_running

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(F.sum(money("o_totalprice")).alias("revenue"))
    rev = rev.persist()
    ranked = banded_running(rev, "revenue", "o_custkey", descending=True)
    total = rev.agg(F.sum("revenue").alias("total"))
    share = F.col("run_sum").cast("double") / F.col("total").cast("double")
    return ranked.crossJoin(F.broadcast(total)).select(
        "o_custkey",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("rnk").cast("int").alias("rnk"),
        F.round(share, 6).alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


#: band width (µs) for the range-split window escape hatch below — one
#: hour.  Sized per deployment from observed per-key event rates: the
#: point is that max partition rows = (hot key's peak events per band),
#: not (hot key's TOTAL events).  On the ×100-skewed proof corpus this
#: turns one 9.9M-row partition into ~720 partitions of ≤~14k rows.
RANGESPLIT_BAND_US = 3_600_000_000


@register(
    "win_lead_lag_rangesplit",
    oracle=REGISTRY["win_lead_lag"].oracle,
    tags=("E3", "SCALE-twin"),
)
def win_lead_lag_rangesplit(spark, sf_dir):
    """``win_lead_lag`` with the per-user window RANGE-SPLIT into
    fixed time bands — the declared escape hatch for the hot-partition
    window hazard (VERDICT r13 item 2: a user owning 99% of events is
    a single window partition whose cost is linear in the hot key —
    ~8 s at ×10 skew, ~80 s at ×100, unbounded at 100 TB).  Same
    oracle as the parent, so hash equality proves the rewrite exact.

    Construction (the classic distributed prefix/halo decomposition):

    1. band = floor(epoch_µs / 1 h); lag/lead/gap computed inside the
       BOUNDED (user, band) partitions;
    2. a per-(user, band) edge table (first/last row's value + epoch,
       via min_by/max_by — one hash aggregate) carries the halo: a
       per-user window over BANDS (≤ time-span/band-width rows per
       user, data-volume-independent) supplies each band's previous
       populated band's last row and next populated band's first row,
       which patch exactly the band-boundary rows (row_number 1 and
       count_in_band, NOT null-lag — value itself can be NULL);
    3. first_type is a per-user 1-row min_by aggregate (map-side
       partial), broadcast back.

    Values are copied verbatim (the one arithmetic, gap_us, is exact
    integer µs), so the twin is exact, not approximate.

    100 TB posture: every window partition is ≤ one band of one user;
    the only per-user structure left is the edge meta-window, whose
    size is the TIME RANGE over the band width, independent of row
    count.  Band width is the deployment's knob for peak-rate keys."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    e = e.select(
        "event_id", "user_id", "ts", "event_type", "value",
        # exact integer band arithmetic (ADVICE r14): long/long `/` runs
        # in double, and |unix_micros| beyond 2^53 (the year-2260
        # extremedates pool) can land ±1 µs rows in the adjacent band.
        # decimal(20,0)/decimal division is exact to scale 11, and the
        # smallest nonzero distance from a true quotient to an integer
        # is 1/BAND_US ≈ 2.8e-10 >> the 5e-12 rounding bound, so the
        # floor is exact over the full long range.  (`div` truncates
        # toward zero — wrong band for pre-1970 negative epochs.)
        F.floor(us.cast("decimal(20,0)") / F.lit(RANGESPLIT_BAND_US))
        .cast("long")
        .alias("band"),
        us.alias("us"),
    )

    wb = Window.partitionBy("user_id", "band").orderBy("ts", "event_id")
    wb_all = Window.partitionBy("user_id", "band")
    base = e.select(
        "event_id", "user_id", "band", "value", "us",
        F.lag("value").over(wb).alias("prev_in"),
        F.lead("value").over(wb).alias("next_in"),
        F.lag("us").over(wb).alias("prev_us_in"),
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(wb_all).alias("n_band"),
    )

    ord_key = F.struct("ts", "event_id")
    edges = e.groupBy("user_id", "band").agg(
        F.min_by(F.struct(F.col("value").alias("v"), F.col("us").alias("u")), ord_key).alias("first_row"),
        F.max_by(F.struct(F.col("value").alias("v"), F.col("us").alias("u")), ord_key).alias("last_row"),
    )
    # per-user window over BANDS: partitions are time-range/band-width
    # rows, independent of data volume — handles EMPTY bands correctly
    # (the previous populated band, not band-1)
    we = Window.partitionBy("user_id").orderBy("band")
    halo = edges.select(
        "user_id", "band",
        F.lag("last_row").over(we).alias("prev_last"),
        F.lead("first_row").over(we).alias("next_first"),
    )

    first_type = e.groupBy("user_id").agg(
        F.min_by("event_type", ord_key).alias("first_type")
    )

    j = base.join(halo, ["user_id", "band"], "left").join(
        F.broadcast(first_type), "user_id", "left"
    )
    at_start = F.col("rn") == 1
    at_end = F.col("rn") == F.col("n_band")
    return j.select(
        "event_id",
        "user_id",
        F.when(at_start, F.col("prev_last.v")).otherwise(F.col("prev_in")).alias("prev_value"),
        F.when(at_end, F.col("next_first.v")).otherwise(F.col("next_in")).alias("next_value"),
        "first_type",
        F.when(at_start, F.col("us") - F.col("prev_last.u"))
        .otherwise(F.col("us") - F.col("prev_us_in"))
        .alias("gap_us"),
    )
