"""D. Aggregations (SURVEY.md §2 D1-D12).

Spark executes these as hash aggregates with map-side partials and a
final merge after a key shuffle; AQE coalesces the post-shuffle
partitions. The decimal-cast policy (policy.py) makes every sum
order-free, so partial aggregation changes nothing about the result —
which is exactly what lets these run on 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.policy import money, money_avg, money_sum
from etl_builder_spark.folding import nan_to_null
from etl_builder_spark.registry import REGISTRY, register
from etl_builder_spark.session import load_table


@register(
    "agg_pricing_summary",
    oracle="""
        SELECT l_returnflag,
               l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               -- product sums pass through DECIMAL(18,2) before the
               -- double cast (round-12 ×10 sweep): a >18-digit decimal
               -- converts to double through the engines' DIFFERENT
               -- wide-decimal paths (1-ulp disagreement at sf1.0
               -- magnitudes — the policy §7.2 caveat, now measured);
               -- an 18,2 decimal is long-backed in both, and
               -- long/100.0 is one correctly-rounded IEEE division
               CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                        AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2)
                        AS DECIMAL(18,2)) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("D1", "flagship"),
)
def agg_pricing_summary(spark, sf_dir):
    """Flagship: TPC-H Q1-shape multi-measure pricing summary."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity", "sum_qty"),
        money_sum("l_extendedprice", "sum_base_price"),
        # ROUND→DECIMAL(18,2)→double for the product sums (round-12
        # ×10 sweep): the scale-4/6 product sums exceed 18 digits of
        # precision at sf1.0 magnitudes, and the engines' WIDE-decimal
        # →double conversions disagree by 1 ulp; an (18,2) decimal is
        # long-backed in both engines and long/100.0 is one correctly-
        # rounded IEEE division.  Cent-precision money totals; capacity
        # to ~1e16 cents — far past any corpus.
        F.round(F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount"))), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("sum_disc_price"),
        F.round(
            F.sum(
                money("l_extendedprice")
                * (F.lit(1) - money("l_discount"))
                * (F.lit(1) + money("l_tax"))
            ),
            2,
        )
        .cast("decimal(18,2)")
        .cast("double")
        .alias("sum_charge"),
        money_avg("l_quantity", "avg_qty"),
        money_avg("l_extendedprice", "avg_price"),
        money_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(DISTINCT o_orderpriority) AS n_prios,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("D2",),
)
def agg_count_distinct(spark, sf_dir):
    """Multiple exact COUNT(DISTINCT)s — Spark plans an Expand + two-phase
    aggregate, still fully distributed."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderpriority").alias("n_prios"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL estimate differs across engines by construction → rows-only
    tags=("D3",),
)
def agg_approx_distinct(spark, sf_dir):
    """Approx count-distinct (HyperLogLog++). At 100 TB this is the
    right default over exact distinct: no Expand blowup, mergeable
    sketches, bounded memory."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        HAVING COUNT(*) > 0
    """,
    tags=("D4",),
)
def agg_grouping_sets(spark, sf_dir):
    """GROUPING SETS lattice. Corpus values are never NULL, so COALESCE
    labels the super-aggregate rows unambiguously.

    Empty-input semantics (round-12 degenerate sweep): Spark's
    Expand-based grouping lattice emits ZERO rows over empty input,
    while the SQL standard (and DuckDB/Postgres) emit the () grand-
    total row with COUNT 0.  The oracle's HAVING COUNT(*) > 0 pins the
    Spark semantics — a no-op on any non-empty input, where every
    lattice row aggregates at least one source row."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(n_name, 'ALL') AS nation,
               COUNT(*) AS n_suppliers,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        HAVING COUNT(*) > 0
    """,
    tags=("D5",),
)
def agg_rollup(spark, sf_dir):
    # oracle HAVING: pins Spark's zero-rows-over-empty-input lattice
    # semantics; no-op on non-empty input (see agg_grouping_sets)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), money_sum("s_acctbal", "total_bal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_suppliers",
            "total_bal",
        )
    )


@register(
    "agg_cube",
    oracle="""
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        HAVING COUNT(*) > 0
    """,
    tags=("D6",),
)
def agg_cube(spark, sf_dir):
    # oracle HAVING: pins Spark's zero-rows-over-empty-input lattice
    # semantics; no-op on non-empty input (see agg_grouping_sets)
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("l_extendedprice", "sum_price"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_price",
        )
    )


@register(
    "agg_filtered",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_value,
               COUNT(*) AS n_total
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("D7",),
)
def agg_filtered(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(urgent, F.lit(1))).alias("n_urgent"),
        F.sum(F.when(urgent, money("o_totalprice"))).cast("double").alias("urgent_value"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
        SELECT r_name, array_to_string(list_sort(list(n_name)), '|') AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    tags=("D8",),
)
def agg_collect_sorted(spark, sf_dir):
    """Deterministic array agg: bare collect_list is order-nondeterministic
    across partitions — ALWAYS array_sort it (policy §7.2.4). The final
    projection serializes the array with array_join so the result is
    hashable by pandas-based comparators (driver-canon protocol §7.2.8);
    the unserialized array form is the same expression minus the join."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("nations"))
    )


@register(
    "agg_stats",
    oracle="""
        SELECT l_returnflag,
               COUNT(*) AS n,
               ROUND(SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                        * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
                     / (COUNT(*) - 1)), 6) AS stddev_qty,
               ROUND((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                      - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                        * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
                     / (COUNT(*) - 1), 6) AS covar_qty_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("D9",),
)
def agg_stats(spark, sf_dir):
    """Statistical aggregates via exact decimal moments: sums of x, x²,
    x·y are order-free decimals; the final double math is an identical
    IEEE expression on both engines. (Built-in stddev/corr accumulate
    doubles in partition order — useful, but not oracle-exact; they are
    exposed as engine functions, not declared here.)"""
    l = load_table(spark, sf_dir, "lineitem")
    q = money("l_quantity")
    p = money("l_extendedprice")
    cnt = F.count(F.lit(1))
    sum_q = F.sum(q).cast("double")
    sum_q2 = F.sum(q * q).cast("double")
    sum_p = F.sum(p).cast("double")
    sum_qp = F.sum(q * p).cast("double")
    # try_divide (round-12 degenerate sweep): a single-row group makes
    # the Bessel denominator 0 — the sample statistic is the defined
    # NULL on both engines (DuckDB x/0 is NULL), never DIVIDE_BY_ZERO
    return l.groupBy("l_returnflag").agg(
        cnt.alias("n"),
        F.round(
            F.sqrt(F.try_divide(sum_q2 - sum_q * sum_q / cnt, cnt - F.lit(1))), 6
        ).alias("stddev_qty"),
        F.round(F.try_divide(sum_qp - sum_q * sum_p / cnt, cnt - F.lit(1)), 6).alias(
            "covar_qty_price"
        ),
    )


@register(
    "agg_percentile",
    oracle="""
        SELECT o_orderpriority,
               ROUND(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.5), 6) AS p50,
               ROUND(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.9), 6) AS p90
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("D10",),
)
def agg_percentile(spark, sf_dir):
    """Exact interpolated percentile. Spark's percentile and DuckDB's
    quantile_cont both use linear interpolation on the sorted values;
    parity verified by selfcheck (demote to rows-only if it drifts)."""
    o = load_table(spark, sf_dir, "orders")
    x = nan_to_null("o_totalprice")  # NaN ranks largest in Spark's
    # percentile but is SKIPPED by DuckDB's quantile_cont - NULL is the
    # one unknown-value semantics both engines share (nanmeasures shape)
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile(x, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(x, F.lit(0.9)), 6).alias("p90"),
    )


@register(
    "pivot_manual",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
               COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
               COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
               COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_notspec,
               COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("D11",),
)
def pivot_manual(spark, sf_dir):
    """Pivot with an explicit value list (no extra values-discovery job —
    the two-pass inferring pivot is an anti-pattern at scale)."""
    o = load_table(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = o.groupBy("o_orderstatus").pivot("o_orderpriority", prios).count()
    renamed = piv.select(
        "o_orderstatus",
        F.coalesce(F.col("`1-URGENT`"), F.lit(0)).alias("p1_urgent"),
        F.coalesce(F.col("`2-HIGH`"), F.lit(0)).alias("p2_high"),
        F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).alias("p3_medium"),
        F.coalesce(F.col("`4-NOT SPECIFIED`"), F.lit(0)).alias("p4_notspec"),
        F.coalesce(F.col("`5-LOW`"), F.lit(0)).alias("p5_low"),
    )
    return renamed


@register(
    "unpivot_melt",
    oracle="""
        SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val FROM part
    """,
    tags=("D12",),
)
def unpivot_melt(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    )
    return p.unpivot("p_partkey", ["p_size", "p_retailprice"], "measure", "val")


@register(
    "agg_mode_deterministic",
    oracle="""
        WITH counts AS (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                         ORDER BY n DESC, o_orderpriority) AS rn
            FROM counts
        ) WHERE rn = 1
    """,
    tags=("D-mode",),
)
def agg_mode_deterministic(spark, sf_dir):
    """Deterministic mode (most frequent value per group): built-in
    F.mode breaks frequency ties arbitrarily, so the engine computes
    count-then-max_by over a (n, value) struct with a value tiebreak —
    two shuffle-bounded aggregations, order-insensitive, exactly what
    the SQL window oracle states."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    # min_by over the struct (-n, priority): struct comparison is
    # lexicographic, so the minimum is the row with the LARGEST count,
    # ties broken by the lexicographically smallest priority — total
    # order, no arbitrary tie behavior
    best = counts.groupBy("o_orderstatus").agg(
        F.min_by(
            F.struct(F.col("o_orderpriority").alias("mode_priority"), F.col("n").alias("mode_count")),
            F.struct((-F.col("n")).alias("neg_n"), F.col("o_orderpriority")),
        ).alias("m")
    )
    return best.select("o_orderstatus", "m.mode_priority", "m.mode_count")


@register(
    "agg_robust_mad",
    oracle="""
        WITH o2 AS (
            SELECT o_orderpriority,
                   CASE WHEN isnan(o_totalprice) THEN NULL
                        ELSE o_totalprice END AS price
            FROM orders
        ),
        med AS (
            SELECT o_orderpriority AS p, quantile_cont(price, 0.5) AS m
            FROM o2 GROUP BY 1
        )
        SELECT o.o_orderpriority,
               ROUND(ANY_VALUE(m.m), 6) AS median_price,
               ROUND(quantile_cont(abs(o.price - m.m), 0.5), 6) AS mad,
               COUNT(*) AS n
        FROM o2 o JOIN med m ON m.p = o.o_orderpriority
        GROUP BY o.o_orderpriority
    """,
    tags=("D-robust",),
)
def agg_robust_mad(spark, sf_dir):
    """Median absolute deviation per group — the robust spread measure
    outlier pipelines prefer over stddev (a single corrupt value moves
    stddev arbitrarily, MAD not at all).  Inherently two-pass: group
    medians first (tiny frame, broadcast back), then the median of
    absolute deviations.  Interpolated medians match DuckDB's
    quantile_cont exactly (the D10 parity), deviations are plain IEEE
    subtractions, outputs rounded 6 dp."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price", nan_to_null("o_totalprice")
    )
    med = o.groupBy(F.col("o_orderpriority").alias("p")).agg(
        F.percentile("price", F.lit(0.5)).alias("m")
    )
    joined = o.join(F.broadcast(med), o["o_orderpriority"] == med["p"])
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.first("m"), 6).alias("median_price"),
        F.round(
            F.percentile(F.abs(F.col("price") - F.col("m")), F.lit(0.5)), 6
        ).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )




#: epoch hours of 2024-01-01 00:00 UTC — fixed regression anchor so the
#: time regressor spans [0, ~720] instead of ~473k (keeps the closed
#: forms numerically meaningful; identical literal in the oracle).
_TREND_ANCHOR_H = 473_352


@register(
    "agg_regression_trend",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n,
               ROUND((COUNT(*) * CAST(SUM(xh * yv) AS DOUBLE)
                        - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(yv) AS DOUBLE))
                     / (COUNT(*) * CAST(SUM(xh * xh) AS DOUBLE)
                        - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(xh) AS DOUBLE)),
                     6) AS slope_per_hour,
               ROUND((CAST(SUM(yv) AS DOUBLE)
                        - ((COUNT(*) * CAST(SUM(xh * yv) AS DOUBLE)
                            - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(yv) AS DOUBLE))
                           / (COUNT(*) * CAST(SUM(xh * xh) AS DOUBLE)
                              - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(xh) AS DOUBLE)))
                          * CAST(SUM(xh) AS DOUBLE))
                     / COUNT(*), 6) AS intercept,
               ROUND(((COUNT(*) * CAST(SUM(xh * yv) AS DOUBLE)
                        - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(yv) AS DOUBLE))
                      * (COUNT(*) * CAST(SUM(xh * yv) AS DOUBLE)
                         - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(yv) AS DOUBLE)))
                     / ((COUNT(*) * CAST(SUM(xh * xh) AS DOUBLE)
                         - CAST(SUM(xh) AS DOUBLE) * CAST(SUM(xh) AS DOUBLE))
                        * (COUNT(*) * CAST(SUM(yv * yv) AS DOUBLE)
                           - CAST(SUM(yv) AS DOUBLE) * CAST(SUM(yv) AS DOUBLE))),
                     6) AS r2
        FROM (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 - {_TREND_ANCHOR_H} AS xh,
                   CAST(value AS DECIMAL(18,2)) AS yv
            FROM events
        )
        GROUP BY event_type
    """,
    tags=("D-regr",),
)
def agg_regression_trend(spark, sf_dir):
    """Least-squares trend per event_type — value regressed on event
    time (hours since a fixed anchor): slope, intercept, r².  The
    metric-drift detector: 'is this KPI trending and how hard'.

    Same exactness discipline as ``agg_stats``: the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) are order-free EXACT sums
    (integer hours × decimal money), so the final double closed forms
    are bit-identical IEEE expressions in both engines — Spark's
    built-in ``regr_slope`` accumulates doubles in partition order and
    could not be hash-checked.  One partial-then-final aggregation
    around a single exchange; the anchored integer regressor keeps the
    n·Σx² − (Σx)² cancellation well away from double precision loss
    (x ≤ ~720 here vs ~473k unanchored)."""
    e = load_table(spark, sf_dir, "events")
    xh = (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long") - F.lit(_TREND_ANCHOR_H)
    yv = money("value")
    src = e.select("event_type", xh.alias("xh"), yv.alias("yv"))
    n = F.count(F.lit(1))
    sx = F.sum("xh").cast("double")
    sy = F.sum("yv").cast("double")
    sxy = F.sum(F.col("xh") * F.col("yv")).cast("double")
    sxx = F.sum(F.col("xh") * F.col("xh")).cast("double")
    syy = F.sum(F.col("yv") * F.col("yv")).cast("double")
    # try_divide (round-12 degenerate sweep): a one-point or one-hour
    # group zeroes n·Σx²−(Σx)², and an all-equal value zeroes the y
    # variance in r² — the undefined fit is NULL on both engines
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = F.try_divide(num, den)
    return src.groupBy("event_type").agg(
        n.alias("n"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(F.try_divide(num * num, den * (n * syy - sy * sy)), 6).alias("r2"),
    )


@register(
    "agg_weighted_avg",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS weighted_avg_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("D-weighted",),
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price per return flag — the VWAP
    shape (SUM(w·x)/SUM(w)), which no built-in avg expresses.  Both
    sums run in exact decimal so the single double division at the end
    is bit-identical cross-engine; one partial-then-final aggregate
    around a single exchange on the group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (
            F.sum(money("l_extendedprice") * money("l_quantity")).cast("double")
            / F.sum(money("l_quantity")).cast("double")
        ).alias("weighted_avg_price"),
        F.sum(money("l_quantity")).cast("double").alias("total_qty"),
    )


@register(
    "agg_boolean_any",
    oracle="""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               -- COALESCE keeps the flag TOTAL (r12 nullmeasures): an
               -- unknown price is not evidence of a large order, and a
               -- NULL boolean would stringify differently per engine
               bool_or(COALESCE(o_totalprice > 300000, FALSE)) AS any_large,
               bool_and(o_orderstatus = 'F') AS all_finished,
               CAST(count_if(o_orderpriority LIKE '1-%') AS BIGINT) AS n_urgent
        FROM orders
        GROUP BY o_custkey
    """,
    tags=("D-bool",),
)
def agg_boolean_any(spark, sf_dir):
    """Boolean/conditional aggregate family — ANY/EVERY (bool_or /
    bool_and) and count_if — the flag-rollup shape behind cohort
    predicates ('has the customer ever…', 'are all orders…').  All
    three are single-bit partial states with trivial map-side combine,
    so the aggregate is one exchange on the group key with near-zero
    shuffle payload — the cheapest rollup Spark can run."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # coalesce keeps the flag TOTAL (r12): unknown price ≠ large
        F.bool_or(F.coalesce(F.col("o_totalprice") > 300000, F.lit(False))).alias(
            "any_large"
        ),
        F.bool_and(F.col("o_orderstatus") == "F").alias("all_finished"),
        F.count_if(F.col("o_orderpriority").like("1-%")).alias("n_urgent"),
    )


@register(
    "agg_higher_moments",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   SUM(CAST(l_quantity AS BIGINT)) AS s1,
                   SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
                   SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                       * CAST(l_quantity AS BIGINT)) AS s3,
                   SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                       * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
            FROM lineitem
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               ROUND(m1, 6) AS mean,
               ROUND(m2 - m1 * m1, 6) AS variance_pop,
               ROUND((m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1)
                     / pow(m2 - m1 * m1, 1.5), 6) AS skewness,
               ROUND((m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
                      - 3.0 * m1 * m1 * m1 * m1)
                     / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0, 6) AS excess_kurtosis
        FROM (
            SELECT l_returnflag, n,
                   CAST(s1 AS DOUBLE) / n AS m1,
                   CAST(s2 AS DOUBLE) / n AS m2,
                   CAST(s3 AS DOUBLE) / n AS m3,
                   CAST(s4 AS DOUBLE) / n AS m4
            FROM s
        )
    """,
    tags=("D-moments",),
)
def agg_higher_moments(spark, sf_dir):
    """Skewness and excess kurtosis per group from the raw power sums
    — the distribution-shape profile behind outlier policies and
    binning choices.  l_quantity is integral, so Σx..Σx⁴ are EXACT
    BIGINTs in any summation order and the standardized moments are
    fixed double expressions of them — bit-identical cross-engine,
    which Spark's built-in ``skewness``/``kurtosis`` (streaming
    central-moment accumulators, order-dependent) could never give.
    One partial-then-final aggregate; the four power sums ride the
    same exchange as the count."""
    li = load_table(spark, sf_dir, "lineitem")
    q = nan_to_null("l_quantity").cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var = m2 - m1 * m1
    return s.select(
        "l_returnflag",
        "n",
        F.round(m1, 6).alias("mean"),
        F.round(var, 6).alias("variance_pop"),
        # try_divide (round-12 degenerate sweep): zero variance (one row
        # or all-equal quantities) makes the standardized moments the
        # defined NULL on both engines, never DIVIDE_BY_ZERO
        F.round(
            F.try_divide(
                m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1, F.pow(var, 1.5)
            ),
            6,
        ).alias("skewness"),
        F.round(
            F.try_divide(
                m4
                - F.lit(4.0) * m1 * m3
                + F.lit(6.0) * m1 * m1 * m2
                - F.lit(3.0) * m1 * m1 * m1 * m1,
                var * var,
            )
            - F.lit(3.0),
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "agg_bitmask_flags",
    oracle="""
        SELECT user_id,
               bit_or(CASE event_type
                          WHEN 'click' THEN 1
                          WHEN 'view' THEN 2
                          WHEN 'purchase' THEN 4
                          WHEN 'signup' THEN 8
                          WHEN 'error' THEN 16
                          ELSE 32 END) AS type_mask,
               COUNT(DISTINCT event_type) AS n_types
        FROM events
        GROUP BY user_id
    """,
    tags=("D-bitmask",),
)
def agg_bitmask_flags(spark, sf_dir):
    """Per-user capability bitmask: OR-fold each event type's flag bit
    into one integer — the compact 'which behaviors has this user
    shown' encoding (one BIGINT instead of a type set; membership is a
    bitwise AND downstream).  bit_or's partial state is a single
    integer with trivial map-side combine — like the boolean rollups
    of agg_boolean_any but 64 flags wide.  The type→bit map is an
    explicit pinned CASE (never a runtime dense-rank: ids must be
    stable across corpus generations for the masks to be
    comparable)."""
    e = load_table(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .when(F.col("event_type") == "error", 16)
        .otherwise(32)
    )
    return e.groupBy("user_id").agg(
        F.bit_or(flag).alias("type_mask"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "agg_entropy_profile",
    oracle="""
        WITH counts AS (
            SELECT user_id, event_type, COUNT(*) AS k
            FROM events GROUP BY user_id, event_type
        ),
        tot AS (
            SELECT user_id, SUM(k) AS n FROM counts GROUP BY user_id
        )
        SELECT c.user_id,
               CAST(t.n AS BIGINT) AS n_events,
               COUNT(*) AS n_types,
               ROUND(ln(CAST(t.n AS DOUBLE))
                     - SUM(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE)))
                       / CAST(t.n AS DOUBLE), 6) AS entropy_nats
        FROM counts c JOIN tot t USING (user_id)
        GROUP BY c.user_id, t.n
    """,
    tags=("D-entropy",),
)
def agg_entropy_profile(spark, sf_dir):
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity feature (0 = one-note bot, ln(5) ≈ 1.61 = uniform across
    all five types), also the standard class-balance diagnostic for a
    training-label column.  Computed in the decomposed form
    H = ln(n) − Σk·ln(k)/n so every term is a double of exact integer
    counts; the Σ spans at most |types| values per user.  Two
    aggregates sharing the user_id partitioning — the second exchange
    disappears under AQE reuse."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    tot = counts.groupBy("user_id").agg(F.sum("k").alias("n"))
    joined = counts.join(tot, "user_id")
    return joined.groupBy("user_id", "n").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.col("n").cast("double"))
            - F.sum(F.col("k").cast("double") * F.log(F.col("k").cast("double")))
            / F.col("n").cast("double"),
            6,
        ).alias("entropy_nats"),
    ).select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        "n_types",
        "entropy_nats",
    )


@register(
    "agg_gini_revenue",
    oracle="""
        WITH rev AS (
            SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            -- complete-case (r12): a customer whose revenue is unknown
            -- (all prices NULL) is not ranked — the engines otherwise
            -- disagree on where NULL sorts (Spark first, DuckDB last)
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
            FROM rev WHERE x IS NOT NULL
        )
        SELECT COUNT(*) AS n_customers,
               CAST(SUM(x) AS DOUBLE) AS total_revenue,
               ROUND(2.0 * CAST(SUM(i * x) AS DOUBLE)
                     / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
                     - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
        FROM ranked
    """,
    tags=("D-gini",),
)
def agg_gini_revenue(spark, sf_dir):
    """Gini coefficient of customer revenue — the inequality scalar
    behind win_cumulative_share's Pareto curve (0 = equal, →1 = one
    customer is the business), also the label-imbalance metric for a
    training mix.  Closed form over the rank-weighted sum:
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with xᵢ ascending.  Both Σx and
    Σ(i·x) stay DECIMAL (rank × exact money = exact), so the two final
    double casts are bit-identical cross-engine; the ranking window
    runs over the per-customer aggregate (|customers| rows), ties
    pinned by key."""
    from pyspark.sql import Window

    w = Window.orderBy("x", "o_custkey")
    ranked = _customer_revenue(spark, sf_dir).select("x", F.row_number().over(w).alias("i"))
    return _gini(ranked)


def _customer_revenue(spark, sf_dir):
    """(o_custkey, x): exact DECIMAL revenue per customer, customers
    with unknown revenue dropped — the frame both Gini keys rank."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice")).alias("x"))
        .where(F.col("x").isNotNull())  # complete-case (r12)
    )


def _gini(ranked):
    """Closed-form Gini G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over (x, i)
    rows, i the ascending rank of x."""
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    six = F.sum(F.col("i") * F.col("x")).cast("double")
    return ranked.agg(
        n.alias("n_customers"),
        sx.alias("total_revenue"),
        F.round(F.lit(2.0) * six / (n * sx) - (n + F.lit(1.0)) / n, 6).alias("gini"),
    )


@register(
    "market_basket_pairs",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_orders
            FROM items a
            JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, n_orders
        FROM pairs
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("D-basket",),
)
def market_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the top item PAIRS bought together
    in the same order — the counting core of association-rule mining
    (the support table behind apriori/FP-growth's first level).  The
    basket self-join is keyed on the order, so fan-out per order is
    C(k,2) in BASKET size k (single-digit here, bounded by order width
    everywhere), never corpus-quadratic.

    100 TB posture: one exchange on l_orderkey co-locates each basket
    (both join sides reuse the same persisted distinct frame and the
    same partitioning — zero extra shuffles for the self-join), pair
    counting gets map-side combine, and the top-20 is a
    TakeOrderedAndProject k-row merge.  A viral SKU pair is ordinary
    agg skew (AQE handles it); the ordering pins count ties by the
    pair key (policy §7.2.3)."""
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct().persist()
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return pairs.orderBy(F.col("n_orders").desc(), "part_a", "part_b").limit(20)


@register(
    "agg_weighted_median",
    oracle="""
        WITH grp AS (
            SELECT l_returnflag AS flag, l_extendedprice AS val,
                   SUM(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2
        ),
        cum AS (
            SELECT flag, val,
                   SUM(w) OVER (PARTITION BY flag ORDER BY val) AS cw,
                   SUM(w) OVER (PARTITION BY flag) AS tw
            FROM grp
        )
        SELECT flag,
               MIN(val) AS weighted_median,
               CAST(MIN(tw) AS BIGINT) AS total_weight
        FROM cum
        WHERE cw * 2 >= tw
        GROUP BY flag
    """,
    tags=("D-weighted-median",),
)
def agg_weighted_median(spark, sf_dir):
    """Weighted median: the smallest value whose CUMULATIVE weight
    reaches half the group's total — here price weighted by quantity,
    the inventory-weighted "typical price" a plain median (D10)
    mis-states when line sizes vary.  Pre-aggregating weight BY VALUE
    first makes the cumulative walk independent of row order, and the
    half-total test compares exact integers (cw·2 ≥ tw) — no
    interpolation, no float rank.

    100 TB posture: the value-level pre-aggregation collapses the
    window's input to |distinct values| per group (map-side combined),
    so the per-group sort — the unavoidable cost of any exact
    quantile, same as D10 — runs on the compressed frame; both
    windows and the final min share one flag partitioning.  The
    approx path for wide groups remains agg_percentile_approx."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    grp = (
        l.groupBy(F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("val"))
        .agg(F.sum(nan_to_null("l_quantity").cast("bigint")).alias("w"))
    )
    wflag = Window.partitionBy("flag")
    cum = grp.select(
        "flag",
        "val",
        F.sum("w").over(wflag.orderBy("val")).alias("cw"),
        F.sum("w").over(wflag).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("val").alias("weighted_median"),
            F.min("tw").cast("bigint").alias("total_weight"),
        )
    )


@register(
    "agg_grouping_id_labels",
    oracle="""
        SELECT CASE WHEN GROUPING(o_orderpriority) = 0
                     AND GROUPING(o_orderstatus) = 0 THEN 'cell'
                    WHEN GROUPING(o_orderstatus) = 1
                     AND GROUPING(o_orderpriority) = 0 THEN 'priority_total'
                    WHEN GROUPING(o_orderpriority) = 1
                     AND GROUPING(o_orderstatus) = 0 THEN 'status_total'
                    ELSE 'grand_total' END AS level_label,
               CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT)
                   AS gid,
               o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        HAVING COUNT(*) > 0
    """,
    tags=("D-grouping-id",),
)
def agg_grouping_id_labels(spark, sf_dir):
    """GROUPING()/grouping_id disambiguation — the part of the
    grouping-sets surface D4 leaves implicit: a NULL in a grouping-
    sets result is ambiguous (real NULL data vs "aggregated over"),
    and GROUPING() is the standard's answer — here driving both a
    human-readable level label and the canonical gid bitmask.
    Consumers route on the label (cells to the dashboard, totals to
    the scorecard) without re-deriving levels from NULL patterns.

    100 TB posture: identical to D4 — one Expand (×|sets|) feeding a
    map-side-combined aggregate; the labeling is free projection.
    Spark's grouping_id() bit order is implementation-defined, so the
    portable form composes GROUPING() per column exactly as here."""
    o = load_table(spark, sf_dir, "orders")
    grouped = o.groupingSets(
        [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    )
    gp = F.grouping("o_orderpriority")
    gs = F.grouping("o_orderstatus")
    label = (
        F.when((gp == 0) & (gs == 0), "cell")
        .when((gs == 1) & (gp == 0), "priority_total")
        .when((gp == 1) & (gs == 0), "status_total")
        .otherwise("grand_total")
    )
    return grouped.agg(
        label.alias("level_label"),
        (gp * 2 + gs).cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("revenue"),
    ).select(
        "level_label", "gid", "o_orderpriority", "o_orderstatus", "n", "revenue"
    )


@register(
    "agg_share_of_hierarchy",
    oracle="""
        WITH nat AS (
            SELECT r_name, n_name,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON c_custkey = o_custkey
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            GROUP BY r_name, n_name
        )
        SELECT r_name, n_name, n_orders, revenue,
               ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6)
                   AS share_of_region,
               ROUND(revenue / SUM(revenue) OVER (), 6) AS share_of_total
        FROM nat
    """,
    tags=("D-hierarchy-share",),
)
def agg_share_of_hierarchy(spark, sf_dir):
    """Nested percent-of-parent: each nation's revenue as a share of
    its region AND of the world — the two-level drill-down ratio
    every BI hierarchy renders.  Both denominators are window sums
    over the AGGREGATED nation frame (≤ |nations| rows), so the
    unpartitioned grand-total window is bounded by dimension
    cardinality, not data volume (the vocab_top_tokens argument);
    numerators and denominators are the same exact-decimal-derived
    doubles, divided once and rounded once.

    100 TB posture: one star join (dims broadcast) + one aggregate
    with map-side combine; the share windows add no exchange beyond
    the r_name hash the region window needs."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("revenue"),
        )
    )
    return nat.select(
        "r_name",
        "n_name",
        "n_orders",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(Window.partitionBy("r_name")), 6
        ).alias("share_of_region"),
        F.round(F.col("revenue") / F.sum("revenue").over(Window.partitionBy()), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "agg_trimmed_mean",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag AS flag,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice, l_orderkey,
                                               l_linenumber) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
            -- complete-case: NULL prices are not observations (r12)
            WHERE l_extendedprice IS NOT NULL
        )
        SELECT flag,
               CAST(MIN(n) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN rn > n * 5 // 100 AND rn <= n - n * 5 // 100
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN rn > n * 5 // 100 AND rn <= n - n * 5 // 100
                             THEN v END) AS DOUBLE)
                   / SUM(CASE WHEN rn > n * 5 // 100 AND rn <= n - n * 5 // 100
                              THEN 1 ELSE 0 END) AS trimmed_mean,
               CAST(SUM(v) AS DOUBLE) / MIN(n) AS plain_mean
        FROM ranked
        GROUP BY flag
    """,
    tags=("D-trimmed-mean",),
)
def agg_trimmed_mean(spark, sf_dir):
    """5% two-sided trimmed mean per group — the robust location
    estimate that survives fat tails and data errors a plain mean
    amplifies (and reports both so the gap itself is the outlier
    signal).  Trim boundaries are INTEGER rank arithmetic
    (n·5/100 with integer division — identical floor semantics on
    both engines), ranks pin ties with the unique line key, and the
    kept-range sum stays exact DECIMAL (policy §7.2).

    100 TB posture: one rank window per group (the unavoidable exact-
    order-statistic sort, same cost class as D10) feeding a map-side-
    combined conditional aggregate; for approximate trimming at
    extreme scale, bound the range with approx percentiles
    (agg_percentile_approx) and keep the same conditional-sum
    shape."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()  # complete-case (r12)
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = l.select(
        F.col("l_returnflag").alias("flag"),
        money("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    # integer floor division (DIV), not double-divide-then-cast: exact
    # floor semantics matching the oracle's n*5//100 at any n (ADVICE r5)
    lo = F.expr("n * 5 DIV 100")
    hi = F.col("n") - F.expr("n * 5 DIV 100")
    kept = (F.col("rn") > lo) & (F.col("rn") <= hi)
    return ranked.groupBy("flag").agg(
        F.min("n").cast("bigint").alias("n_rows"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        (
            F.sum(F.when(kept, F.col("v"))).cast("double")
            / F.sum(F.when(kept, 1).otherwise(0))
        ).alias("trimmed_mean"),
        (F.sum("v").cast("double") / F.min("n")).alias("plain_mean"),
    )


@register(
    "agg_skyline_frontier",
    oracle="""
        WITH pts AS (
            SELECT l_returnflag AS flag, l_extendedprice AS price,
                   MAX(l_quantity) AS qty
            FROM lineitem
            GROUP BY 1, 2
        ),
        staged AS (
            SELECT flag, price, qty,
                   MAX(qty) OVER (PARTITION BY flag ORDER BY price DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING) AS best_qty_above
            FROM pts
        )
        SELECT flag, price, qty
        FROM staged
        WHERE best_qty_above IS NULL OR qty > best_qty_above
    """,
    tags=("D-skyline",),
)
def agg_skyline_frontier(spark, sf_dir):
    """SKYLINE (Pareto-frontier) operator: per group, the line items
    not dominated on (price, quantity) — a point survives when no
    other point is at least as good on BOTH axes and strictly better
    on one; the classic multi-criteria shortlist (best price/volume
    trades, supplier offers, hotel price-vs-rating).  The scalable
    closed form is the sort-and-sweep staircase: pre-aggregate the
    best qty per price, sort by price descending, and keep a point
    iff its qty beats the running max over STRICTLY higher prices —
    one window pass, never the O(n²) dominance self-join.

    100 TB posture: the price-level pre-aggregation collapses the
    window's input to |distinct prices| per group (map-side
    combined); the sweep is one per-group sort (the order statistics
    cost class, D10).  Higher dimensions block-partition then merge
    frontiers — the same sweep per block, frontiers union-swept
    again (frontier size is the bound, not data size)."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    pts = l.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_extendedprice").alias("price")
    ).agg(F.max("l_quantity").alias("qty"))
    w = (
        Window.partitionBy("flag")
        .orderBy(F.col("price").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = pts.select("flag", "price", "qty", F.max("qty").over(w).alias("best_qty_above"))
    return staged.where(
        F.col("best_qty_above").isNull() | (F.col("qty") > F.col("best_qty_above"))
    ).select("flag", "price", "qty")


@register(
    "pivot_dynamic_discovered",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS revenue_F,
               CAST(SUM(CASE WHEN o_orderstatus = 'O'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS revenue_O,
               CAST(SUM(CASE WHEN o_orderstatus = 'P'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                    AS DOUBLE) AS revenue_P
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("D-pivot-dynamic",),
    dynamic_schema=True,  # discovered pivot columns are data-dependent
)
def pivot_dynamic_discovered(spark, sf_dir):
    """DYNAMIC pivot: the spread columns are DISCOVERED from the data
    (distinct statuses, sorted) rather than hard-coded
    (pivot_manual's fixed list breaks silently when a new status
    appears; this one grows a column).  Two-phase query generation —
    a tiny distinct-values pass (a model artifact, like the PQ
    codebook memo: ≤ |statuses| rows to the driver), then the pivot
    compiled WITH the explicit value list so Spark still plans the
    single-pass conditional aggregate rather than its own hidden
    discovery job.

    100 TB posture: the discovery pass is a column-pruned distinct
    (map-side combined, broadcastable result); the pivot itself is
    ONE scan with |statuses|×2 conditional aggregates, identical to
    the static form.  Dimension blow-up is the governed risk: cap
    discovered values (and bucket the tail as 'other') before
    pivoting by a high-cardinality column."""
    o = load_table(spark, sf_dir, "orders")
    # Discovery pass: NULL is dropped (a NULL spread value has no
    # sensible column name and broke sorted()); the value list is
    # capped so a high-cardinality pivot column can't explode the
    # schema — both per ADVICE r5 and the docstring's stated contract.
    max_values = 64
    discovered = [
        r[0]
        for r in o.select("o_orderstatus")
        .where(F.col("o_orderstatus").isNotNull())
        .distinct()
        .limit(max_values + 1)
        .collect()
    ]
    if len(discovered) > max_values:
        raise ValueError(
            f"pivot_dynamic_discovered: >{max_values} distinct pivot values; "
            "bucket the tail as 'other' before pivoting"
        )
    statuses = sorted(discovered)
    pivoted = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("o_totalprice")).cast("double").alias("rev"),
        )
    )
    esc = lambda s: s.replace("`", "``")  # noqa: E731
    cols = [F.col("o_orderpriority")]
    for s in statuses:
        # backtick-quoted lookups: pivot output columns are named after
        # raw data values, which may contain dots/spaces/specials.
        # COALESCE 0 (r12 nullmeasures sweep): a (priority, status)
        # combo with zero rows pivots to NULL, but the count of an
        # empty cell is 0 — matching the oracle's COUNT(*) FILTER
        cols.append(
            F.coalesce(F.col(f"`{esc(s)}_n`"), F.lit(0))
            .cast("bigint")
            .alias(f"status_{s}")
        )
    for s in statuses:
        cols.append(F.col(f"`{esc(s)}_rev`").alias(f"revenue_{s}"))
    return pivoted.select(*cols)


@register(
    "agg_abc_classification",
    oracle="""
        WITH parts AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev,
                   CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       AS cum_rev,
                   CAST(SUM(rev) OVER () AS DOUBLE) AS tot_rev
            FROM parts
        ),
        classed AS (
            SELECT l_partkey, rev,
                   CASE WHEN cum_rev / tot_rev <= 0.8 THEN 'A'
                        WHEN cum_rev / tot_rev <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class,
                   tot_rev
            FROM ranked
        )
        SELECT abc_class,
               COUNT(*) AS n_parts,
               CAST(SUM(rev) AS DOUBLE) AS class_revenue,
               ROUND(CAST(SUM(rev) AS DOUBLE) / MIN(tot_rev), 6) AS revenue_share
        FROM classed GROUP BY abc_class
    """,
    tags=("D-abc",),
)
def agg_abc_classification(spark, sf_dir):
    """ABC (Pareto) classification — the supply-chain staple: parts
    ranked by revenue, classed A while cumulative share ≤ 80%, B to
    95%, C after, then rolled up per class — the inventory-policy
    input ("count A items weekly, C items yearly") and the managed
    form of win_cumulative_share's raw Pareto curve.  The cumulative
    window runs over the AGGREGATED per-part frame (|parts| rows)
    with the part key as tiebreak; revenues derive from exact decimal
    sums, and the class boundaries compare identically-derived
    doubles on both engines.

    100 TB posture: per-part revenue aggregates map-side; the global
    ranking window is bounded by catalog size, not fact volume (the
    vocab_top_tokens argument — part catalogs are millions, not
    trillions); the final rollup is three rows."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    # all accumulations stay DECIMAL (order-free) until the final
    # double casts — an unordered SUM of doubles for the grand total
    # would be last-ulp order-dependent across engines
    parts = l.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = parts.select(
        "l_partkey",
        "rev",
        F.sum("rev").over(w).cast("double").alias("cum_rev"),
        F.sum("rev").over(Window.partitionBy()).cast("double").alias("tot_rev"),
    )
    share = F.col("cum_rev") / F.col("tot_rev")
    classed = ranked.select(
        "rev",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias("abc_class"),
        "tot_rev",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
        F.round(F.sum("rev").cast("double") / F.min("tot_rev"), 6).alias("revenue_share"),
    )


@register(
    "agg_gini_revenue_banded",
    oracle=REGISTRY["agg_gini_revenue"].oracle,
    tags=("D-gini", "SCALE-twin"),
)
def agg_gini_revenue_banded(spark, sf_dir):
    """``agg_gini_revenue`` with the global ascending rank from
    range-partitioned band prefix counting (operators/stats.py
    ``banded_running``) instead of one unpartitioned ROW_NUMBER window
    — the last of the dimension-frame rankers to get its documented
    swap proven under the parent's exact oracle (round 7; precedents:
    KS/MW banded, cumulative-share banded).  The rank-weighted sum
    Σ(i·xᵢ) multiplies exact bigint ranks by exact decimals, so the
    closed-form Gini is bit-identical to the parent's."""
    from etl_builder_spark.operators.stats import banded_running

    rev = _customer_revenue(spark, sf_dir)
    ranked = banded_running(rev, "x", "o_custkey", descending=False).select(
        "x", F.col("rnk").alias("i")
    )
    return _gini(ranked)


@register(
    "stats_theil_sen_slope",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   epoch_us(ts) // 86400000000 AS xd,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                         / COUNT(*), 6) AS yv
            FROM events
            GROUP BY 1, 2
        ),
        slopes AS (
            SELECT a.event_type,
                   ROUND((b.yv - a.yv) / (b.xd - a.xd), 9) AS s
            FROM daily a
            JOIN daily b
              ON a.event_type = b.event_type AND a.xd < b.xd
        )
        SELECT event_type,
               CAST((SELECT COUNT(*) FROM daily d
                     WHERE d.event_type = slopes.event_type) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(quantile_cont(s, 0.5), 6) AS ts_slope
        FROM slopes
        GROUP BY event_type
    """,
    tags=("STATS-theilsen",),
)
def stats_theil_sen_slope(spark, sf_dir):
    """Theil–Sen robust trend per event_type: the MEDIAN of all
    pairwise slopes between daily mean values — the outlier-immune
    companion to ``agg_regression_trend``'s least squares (one wild
    day moves OLS, but not the slope median; breakdown point 29%).

    Determinism: daily means are round(exact-decimal-sum / count, 6)
    (the centroid contract), each pairwise slope divides
    identically-derived doubles and is rounded 9 dp before the median,
    and the interpolated median is the verified D10 parity surface
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``).

    100 TB posture: the quadratic is over DAYS, not rows — the daily
    rollup reduces any event volume to |event_type|×|days| rows first
    (one map-side-combined aggregation), and the pair join is keyed on
    event_type so each type's ~C(days,2) slope set stays in one task
    only if days are few; at years×many-types scale, band the pair
    join on day-distance or sample pairs (the standard Theil-Sen
    estimator over random pairs) — same shape, bounded fan-out."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("xd"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("yv")
        )
        .persist()
    )
    n_days = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.xd") < F.col("b.xd")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.yv") - F.col("a.yv")) / (F.col("b.xd") - F.col("a.xd")), 9
        ).alias("s"),
    )
    med = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.percentile("s", F.lit(0.5)), 6).alias("ts_slope"),
    )
    return med.join(n_days, "event_type").select(
        "event_type", "n_days", "n_pairs", "ts_slope"
    )


@register(
    "ml_item_cf_cosine",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        freq AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1
        ),
        co AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_co
            FROM items a
            JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        )
        SELECT part_a, part_b, n_co,
               fa.n AS n_a, fb.n AS n_b,
               ROUND(CAST(n_co AS DOUBLE)
                     / (sqrt(CAST(fa.n AS DOUBLE)) * sqrt(CAST(fb.n AS DOUBLE))),
                     6) AS sim
        FROM co
        JOIN freq fa ON fa.l_partkey = part_a
        JOIN freq fb ON fb.l_partkey = part_b
        ORDER BY sim DESC, part_a, part_b
        LIMIT 20
    """,
    tags=("ML-itemcf",),
)
def ml_item_cf_cosine(spark, sf_dir):
    """Item-item collaborative filtering: binary cosine similarity
    between parts' order-membership vectors — n_co/sqrt(n_a*n_b) over
    the co-purchase census, the normalization that turns
    ``market_basket_pairs``' raw support into the classic
    "customers who bought X also bought" ranking (popular items no
    longer dominate).  Support floor n_co >= 2 prunes noise pairs
    before the frequency join; top-20 by (sim desc, pair key) with the
    policy tiebreak.

    Determinism: counts are exact integers; each sim divides
    identically-derived doubles and rounds 6 dp before ranking.

    100 TB posture: inherits market_basket_pairs' shape — one exchange
    on the order key co-locates baskets (the persisted distinct frame
    self-joins without a second shuffle), per-order fan-out is
    C(basket, 2) never corpus-quadratic, the frequency sides are a
    broadcast-sized dimension, and the top-20 is a
    TakeOrderedAndProject k-row merge.  The support floor is the
    standard scale lever: raising it shrinks the pair frame before
    any join."""
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct().persist()
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
        .where(F.col("n_co") >= 2)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    sim = F.round(
        F.col("n_co").cast("double")
        / (F.sqrt(F.col("n_a").cast("double")) * F.sqrt(F.col("n_b").cast("double"))),
        6,
    )
    return (
        co.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .select("part_a", "part_b", "n_co", "n_a", "n_b", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "agg_hhi_concentration",
    oracle="""
        WITH firm AS (
            SELECT n.n_name AS market, o.o_custkey AS firm,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                        AS DECIMAL(18,2)) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT market, CAST(SUM(rev) AS DECIMAL(18,2)) AS total_rev,
                   CAST(COUNT(*) AS BIGINT) AS n_firms
            FROM firm GROUP BY market
        )
        SELECT f.market, MIN(t.n_firms) AS n_firms,
               CAST(MIN(t.total_rev) AS DOUBLE) AS total_rev,
               CAST(SUM(CAST(ROUND(
                   (CAST(f.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE))
                   * (CAST(f.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE)), 12)
                   AS DECIMAL(18,12))) AS DOUBLE) AS hhi,
               1.0 / CAST(SUM(CAST(ROUND(
                   (CAST(f.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE))
                   * (CAST(f.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE)), 12)
                   AS DECIMAL(18,12))) AS DOUBLE) AS effective_n
        FROM firm f JOIN tot t ON f.market = t.market
        GROUP BY f.market
    """,
    tags=("D-concentration",),
)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman market concentration per nation: treating
    each customer as a firm, HHI = Σ share_i² with per-firm squared
    shares ROUND(·,12)-ed into DECIMAL before the cross-firm sum
    (round-then-decimal at magnitude ≤ 1, policy §7.2 — squared shares
    are where 12-dp rounding is far above double ULP, whereas summing
    Σrev² directly would push the decimal past the 15-significant-
    digit range where DuckDB's wide-decimal→double cast stops being
    correctly rounded — measured, 1 ULP at 18 digits).  Effective firm
    count 1/HHI alongside.  Scale shape: (market, firm) revenue
    aggregate, 25-row broadcast totals joined back, one more map-side-
    combined rollup — order-free at any scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    firm = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("market"), F.col("o_custkey").alias("firm"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
        .persist()  # feeds the totals and the share rollup
    )
    tot = firm.groupBy(F.col("market").alias("m")).agg(
        F.sum("rev").cast("decimal(18,2)").alias("total_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_firms"),
    )
    share = F.col("rev").cast("double") / F.col("total_rev").cast("double")
    sq12 = F.round(share * share, 12).cast("decimal(18,12)")
    hhi = F.sum(sq12).cast("double")
    return (
        firm.join(F.broadcast(tot), firm.market == tot.m)
        .groupBy("market")
        .agg(
            F.min("n_firms").alias("n_firms"),
            F.min("total_rev").cast("double").alias("total_rev"),
            hhi.alias("hhi"),
            (F.lit(1.0) / hhi).alias("effective_n"),
        )
    )


@register(
    "agg_theil_atkinson",
    oracle="""
        WITH rev AS (
            -- positive-domain pin (r13 negmeasures): inequality indices
            -- are defined over POSITIVE incomes; a non-positive
            -- aggregate (refund-dominated ledger) has no log term —
            -- DuckDB's ln(neg) ERRORS where Spark's is NULL, so both
            -- engines drop it.  Identity on the all-positive corpora.
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                        AS BIGINT) AS x
            FROM orders GROUP BY o_custkey
            HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                        AS BIGINT) > 0
        ),
        terms AS (
            SELECT x,
                   CAST(ROUND(x * ln(CAST(x AS DOUBLE)), 6)
                        AS DECIMAL(38,6)) AS xlnx,
                   CAST(ROUND(ln(CAST(x AS DOUBLE)), 9)
                        AS DECIMAL(28,9)) AS lnx
            FROM rev
        ),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(xlnx) AS DOUBLE) AS sxlnx,
                   CAST(SUM(lnx) AS DOUBLE) AS slnx
            FROM terms
        )
        SELECT n AS n_customers,
               ROUND(CAST(sx AS DOUBLE) / n / 100, 6) AS mean_revenue,
               ROUND(sxlnx / sx - ln(CAST(sx AS DOUBLE) / n), 6) + 0.0 AS theil_t,
               ROUND(slnx / n - ln(CAST(sx AS DOUBLE) / n), 6) + 0.0
                   AS mean_log_deviation_neg,
               ROUND(1.0 - exp(slnx / n) / (CAST(sx AS DOUBLE) / n), 6) + 0.0
                   AS atkinson_eps1
        FROM m
    """,
    tags=("D-inequality",),
)
def agg_theil_atkinson(spark, sf_dir):
    """Theil-T index, (negated) mean-log-deviation, and the Atkinson
    ε=1 index of per-customer revenue concentration — the
    decomposable inequality family that complements
    agg_gini_revenue_banded (Gini needs a global rank; Theil/Atkinson
    are pure moment statistics, ONE scan, no window at any scale):
    T = Σxᵢln xᵢ/Σx − ln μ, MLD = ln μ − (1/n)Σln xᵢ, A₁ = 1 − g/μ
    with g the geometric mean.

    Exactness: per-customer revenue is an exact BIGINT in cents; the
    two transcendental per-row terms (x·ln x, ln x) are each rounded
    ONCE to a fixed scale and summed as DECIMALs — the round-then-
    DECIMAL idiom that makes the float-in-nature sums order-free and
    bit-identical across engines; every downstream expression is one
    fixed float formula of (n, Σx, Σx ln x, Σln x).  Scale note:
    cents·ln(cents) ≤ ~2e10·24, so DECIMAL(38,6) holds Σ x·ln x
    through ~1e23 — any corpus.

    Note the cents units cancel where they should: T and A₁ are
    scale-invariant (computed on cents, reported as-is);
    mean_log_deviation_neg reports (1/n)Σln x − ln μ = −MLD so all
    three indices share one sign convention (≤ 0 ⇔ equality
    direction) without a cross-engine subtraction-order hazard."""
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(money("o_totalprice") * 100).cast("bigint").alias("x"))
        # positive-domain pin (r13 negmeasures): see the oracle comment
        .where(F.col("x") > 0)
    )
    x = F.col("x")
    terms = rev.select(
        x,
        F.round(x * F.log(x.cast("double")), 6).cast("decimal(38,6)").alias("xlnx"),
        F.round(F.log(x.cast("double")), 9).cast("decimal(28,9)").alias("lnx"),
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum("xlnx").cast("double").alias("sxlnx"),
        F.sum("lnx").cast("double").alias("slnx"),
    )
    n, sx = F.col("n"), F.col("sx")
    mu = sx.cast("double") / n
    return m.select(
        n.alias("n_customers"),
        F.round(mu / 100, 6).alias("mean_revenue"),
        # `+ 0.0` canonicalizes IEEE −0.0 from an all-equal corpus
        # (round-12 degenerate sweep); no other value changes
        (F.round(F.col("sxlnx") / sx - F.log(mu), 6) + 0.0).alias("theil_t"),
        (F.round(F.col("slnx") / n - F.log(mu), 6) + 0.0).alias(
            "mean_log_deviation_neg"
        ),
        (F.round(F.lit(1.0) - F.exp(F.col("slnx") / n) / mu, 6) + 0.0).alias(
            "atkinson_eps1"
        ),
    )


@register(
    "agg_winsorized_mean",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag AS flag,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice, l_orderkey,
                                               l_linenumber) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
            -- complete-case: NULL prices are not observations (r12)
            WHERE l_extendedprice IS NOT NULL
        ),
        bounds AS (
            SELECT flag,
                   CAST(MIN(n) AS BIGINT) AS n_rows,
                   CAST(MIN(n) * 5 // 100 AS BIGINT) AS k,
                   MAX(CASE WHEN rn = n * 5 // 100 + 1 THEN v END) AS lo,
                   MAX(CASE WHEN rn = n - n * 5 // 100 THEN v END) AS hi
            FROM ranked GROUP BY flag
        )
        SELECT r.flag, b.n_rows, b.k,
               CAST(b.lo AS DOUBLE) AS lo_clamp,
               CAST(b.hi AS DOUBLE) AS hi_clamp,
               CAST(SUM(CASE WHEN r.rn <= b.k THEN b.lo
                             WHEN r.rn > b.n_rows - b.k THEN b.hi
                             ELSE r.v END) AS DOUBLE) / b.n_rows
                   AS winsorized_mean,
               CAST(SUM(r.v) AS DOUBLE) / b.n_rows AS plain_mean
        FROM ranked r JOIN bounds b ON r.flag = b.flag
        GROUP BY r.flag, b.n_rows, b.k, b.lo, b.hi
    """,
    tags=("D-winsorized",),
)
def agg_winsorized_mean(spark, sf_dir):
    """5% two-sided WINSORIZED mean per return flag — the companion
    to agg_trimmed_mean that CLAMPS the tails to the boundary order
    statistics instead of dropping them (keeps n constant, the robust
    estimate regulators and A/B platforms usually specify).

    Exactness: boundaries are the literal k+1-th and (n−k)-th order
    statistics (exact DECIMAL values picked by integer rank equality
    — no percentile interpolation, no floats until the final
    division); the clamped sum is an exact DECIMAL accumulation.
    Rank ties pin on the unique (orderkey, linenumber) key.

    100 TB posture: ONE rank window per group (same cost class as
    agg_trimmed_mean) feeding two group-keyed aggregates; the bounds
    ride the already-partitioned rows — no join, no second sort, no
    driver round-trip.

    r16 optimization (guide §2.4): ALL THREE windows (rank, count,
    boundary max) now partition by the SAME column reference — the
    r15 form partitioned the rank/count windows by `l_returnflag` but
    the boundary window by its alias `flag`, which Catalyst treats as
    a different partitioning, inserting a SECOND Exchange + full Sort
    of every row.  Aliasing before the windows removes that whole
    pass (plan: 2 Exchange + 2 Sort → 1 window exchange; interleaved
    A/B at sf0.1: 1.46 → 1.20 s, values identical).  The rank still
    orders by the RAW double price (NaN sorts last; money(NaN) is
    NULL) — the nanmeasures contract is byte-identical.

    A threshold-LOOKUP rewrite (banded_threshold_stats per-group, the
    conformal/equidepth idiom, clamping by value instead of rank) was
    prototyped and REJECTED by the same A/B: value-identical across
    all ten shapes, but 3.4 s vs 1.2 s here — ~82% of prices are
    distinct, so the per-distinct-value frame costs more hash
    aggregation than the 3-partition sort it saves.  At true scale
    the sort is the bottleneck and that recipe (recorded in
    OPTIMIZATION_r16.md, in git history) is the escape hatch."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()  # complete-case (r12)
    )
    pre = li.select(
        F.col("l_returnflag").alias("flag"),
        money("l_extendedprice").alias("v"),
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("flag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    wf = Window.partitionBy("flag")
    ranked = pre.select(
        "flag",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wf).alias("n"),
    )
    j = ranked.select(
        "flag",
        "v",
        "rn",
        F.col("n").cast("bigint").alias("n_rows"),
        F.floor(F.col("n") * 5 / 100).cast("bigint").alias("k"),
        F.max(
            F.when(F.col("rn") == F.floor(F.col("n") * 5 / 100) + 1, F.col("v"))
        ).over(wf).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.floor(F.col("n") * 5 / 100), F.col("v"))
        ).over(wf).alias("hi"),
    )
    clamped = (
        F.when(F.col("rn") <= F.col("k"), F.col("lo"))
        .when(F.col("rn") > F.col("n_rows") - F.col("k"), F.col("hi"))
        .otherwise(F.col("v"))
    )
    return j.groupBy("flag", "n_rows", "k", "lo", "hi").agg(
        F.sum(clamped).cast("double").alias("wsum"),
        F.sum("v").cast("double").alias("psum"),
    ).select(
        "flag",
        "n_rows",
        "k",
        F.col("lo").cast("double").alias("lo_clamp"),
        F.col("hi").cast("double").alias("hi_clamp"),
        (F.col("wsum") / F.col("n_rows")).alias("winsorized_mean"),
        (F.col("psum") / F.col("n_rows")).alias("plain_mean"),
    )


@register(
    "agg_price_volume_mix",
    oracle="""
        WITH base AS (
            SELECT p_brand AS brand,
                   CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                        THEN 1 ELSE 0 END AS yr,
                   CAST(l_quantity AS BIGINT) AS q,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS rev_cents
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
        ),
        cells AS (
            SELECT brand, yr,
                   CAST(SUM(q) AS BIGINT) AS qty,
                   CAST(SUM(rev_cents) AS BIGINT) AS rev
            FROM base GROUP BY brand, yr
        ),
        wide AS (
            SELECT brand,
                   CAST(SUM(CASE WHEN yr = 0 THEN qty END) AS BIGINT) AS q0,
                   CAST(SUM(CASE WHEN yr = 1 THEN qty END) AS BIGINT) AS q1,
                   CAST(SUM(CASE WHEN yr = 0 THEN rev END) AS BIGINT) AS r0,
                   CAST(SUM(CASE WHEN yr = 1 THEN rev END) AS BIGINT) AS r1
            FROM cells GROUP BY brand
        )
        SELECT brand,
               ROUND(CAST(r0 AS DOUBLE) / 100, 2) AS rev_1996,
               ROUND(CAST(r1 AS DOUBLE) / 100, 2) AS rev_1997,
               ROUND(CAST(r1 - r0 AS DOUBLE) / 100, 2) AS delta_total,
               ROUND((CAST(q1 - q0 AS DOUBLE) * r0 / q0) / 100, 6)
                   AS volume_effect,
               ROUND(CAST(q1 AS DOUBLE)
                     * (CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
                     / 100, 6) AS price_effect
        FROM wide
        ORDER BY brand
    """,
    tags=("D-pvm",),
)
def agg_price_volume_mix(spark, sf_dir):
    """Price–volume decomposition of per-brand revenue change,
    1996 → 1997: Δrevenue = volume effect (Δqty at the OLD average
    unit price) + price effect (new qty × Δ average unit price) — the
    finance bridge ("waterfall") explaining WHY revenue moved, with
    the two effects summing exactly to the total change by
    construction (Laspeyres volume / Paasche price split).

    Exactness: quantities and cent-revenues are exact BIGINTs from
    ONE conditional aggregate per (brand, year); the two effects are
    fixed float expressions of four exact integers, rounded once at
    6 dp (delta_total at 2 dp is exact cents).  The additivity
    identity vol + price = Δ holds to float exactness — tested, not
    assumed.

    100 TB posture: part broadcasts into the date-pruned lineitem
    scan; ONE map-side-combined aggregation to |brands|×2 cells, the
    year pivot via conditional sums on the 50-row frame — never a
    self-join of two year scans."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = F.when(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"), 1
    ).otherwise(0)
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    cells = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            yr.alias("yr"),
            nan_to_null("l_quantity").cast("bigint").alias("q"),
            rev.alias("rev_cents"),
        )
        .groupBy("brand", "yr")
        .agg(
            F.sum("q").cast("bigint").alias("qty"),
            F.sum("rev_cents").cast("bigint").alias("rev"),
        )
    )
    wide = cells.groupBy("brand").agg(
        F.sum(F.when(F.col("yr") == 0, F.col("qty"))).cast("bigint").alias("q0"),
        F.sum(F.when(F.col("yr") == 1, F.col("qty"))).cast("bigint").alias("q1"),
        F.sum(F.when(F.col("yr") == 0, F.col("rev"))).cast("bigint").alias("r0"),
        F.sum(F.when(F.col("yr") == 1, F.col("rev"))).cast("bigint").alias("r1"),
    )
    q0, q1, r0, r1 = F.col("q0"), F.col("q1"), F.col("r0"), F.col("r1")
    return wide.select(
        "brand",
        F.round(r0.cast("double") / 100, 2).alias("rev_1996"),
        F.round(r1.cast("double") / 100, 2).alias("rev_1997"),
        F.round((r1 - r0).cast("double") / 100, 2).alias("delta_total"),
        F.round(((q1 - q0).cast("double") * r0 / q0) / 100, 6).alias("volume_effect"),
        F.round(
            q1.cast("double") * (r1.cast("double") / q1 - r0.cast("double") / q0) / 100,
            6,
        ).alias("price_effect"),
    ).orderBy("brand")


@register(
    "agg_retention_ndr_grr",
    oracle="""
        WITH spend AS (
            SELECT o_custkey AS cust,
                   CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                                 THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 ELSE 0 END) AS BIGINT) AS r96,
                   CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                                 THEN CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 ELSE 0 END) AS BIGINT) AS r97
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
        ),
        cohort AS (SELECT * FROM spend WHERE r96 > 0),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_cohort,
                   CAST(SUM(CASE WHEN r97 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_retained,
                   CAST(SUM(r96) AS BIGINT) AS base_rev,
                   CAST(SUM(r97) AS BIGINT) AS next_rev,
                   CAST(SUM(LEAST(r96, r97)) AS BIGINT) AS floor_rev,
                   CAST(SUM(CASE WHEN r97 > r96 THEN r97 - r96 ELSE 0 END)
                        AS BIGINT) AS expansion,
                   CAST(SUM(CASE WHEN r97 < r96 THEN r96 - r97 ELSE 0 END)
                        AS BIGINT) AS contraction
            FROM cohort
        )
        SELECT n_cohort, n_retained,
               ROUND(CAST(base_rev AS DOUBLE) / 100, 2) AS base_revenue,
               ROUND(CAST(next_rev AS DOUBLE) / 100, 2) AS next_revenue,
               ROUND(CAST(next_rev AS DOUBLE) / base_rev, 6) AS ndr,
               ROUND(CAST(floor_rev AS DOUBLE) / base_rev, 6) AS grr,
               ROUND(CAST(expansion AS DOUBLE) / base_rev, 6)
                   AS expansion_rate,
               ROUND(CAST(contraction AS DOUBLE) / base_rev, 6)
                   AS contraction_rate,
               ROUND(CAST(n_retained AS DOUBLE) / n_cohort, 6)
                   AS logo_retention
        FROM m
    """,
    tags=("D-retention",),
)
def agg_retention_ndr_grr(spark, sf_dir):
    """Net and gross revenue retention of the 1996 customer cohort
    into 1997 — the SaaS-board metrics: NDR = next-period revenue of
    the base cohort / base revenue (expansion can push it over 1);
    GRR = Σ min(r₉₆, r₉₇)/Σ r₉₆ (caps each account at its base, so
    churn+contraction only); plus the expansion/contraction
    decomposition (NDR = GRR + expansion) and logo retention.

    Exactness: per-customer period revenues are exact BIGINT cents
    from ONE date-pruned conditional aggregate (no per-period rescan);
    LEAST/GREATEST-style caps are integer ops; every rate divides two
    exact integers, rounded once.  The identity NDR − GRR =
    expansion_rate holds exactly in the integers — tested.

    100 TB posture: one scan → customer-keyed aggregate (map-side
    combined) → 1-row reduce.  Cohort membership (r₉₆ > 0) is a
    filter on the aggregate, never a second pass."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cents = money("o_totalprice") * 100
    post = F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    spend = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.when(~post, cents).otherwise(0)).cast("bigint").alias("r96"),
        F.sum(F.when(post, cents).otherwise(0)).cast("bigint").alias("r97"),
    )
    cohort = spend.where(F.col("r96") > 0)
    r96, r97 = F.col("r96"), F.col("r97")
    m = cohort.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort"),
        F.sum(F.when(r97 > 0, 1).otherwise(0)).cast("bigint").alias("n_retained"),
        F.sum(r96).cast("bigint").alias("base_rev"),
        F.sum(r97).cast("bigint").alias("next_rev"),
        F.sum(F.least(r96, r97)).cast("bigint").alias("floor_rev"),
        F.sum(F.when(r97 > r96, r97 - r96).otherwise(0)).cast("bigint").alias("expansion"),
        F.sum(F.when(r97 < r96, r96 - r97).otherwise(0)).cast("bigint").alias("contraction"),
    )
    base = F.col("base_rev")
    return m.select(
        "n_cohort",
        "n_retained",
        F.round(base.cast("double") / 100, 2).alias("base_revenue"),
        F.round(F.col("next_rev").cast("double") / 100, 2).alias("next_revenue"),
        F.round(F.col("next_rev").cast("double") / base, 6).alias("ndr"),
        F.round(F.col("floor_rev").cast("double") / base, 6).alias("grr"),
        F.round(F.col("expansion").cast("double") / base, 6).alias("expansion_rate"),
        F.round(F.col("contraction").cast("double") / base, 6).alias("contraction_rate"),
        F.round(F.col("n_retained").cast("double") / F.col("n_cohort"), 6).alias(
            "logo_retention"
        ),
    )


@register(
    "agg_abc_xyz_matrix",
    oracle="""
        WITH parts AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev,
                   CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       AS cum_rev,
                   CAST(SUM(rev) OVER () AS DOUBLE) AS tot_rev
            FROM parts
        ),
        abc AS (
            SELECT l_partkey, rev,
                   CASE WHEN cum_rev / tot_rev <= 0.8 THEN 'A'
                        WHEN cum_rev / tot_rev <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        ),
        monthly AS (
            SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ),
        xyz AS (
            SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_m,
                   CAST(SUM(q) AS BIGINT) AS s1,
                   CAST(SUM(q * q) AS BIGINT) AS s2
            FROM monthly GROUP BY l_partkey
        ),
        classed AS (
            SELECT a.abc_class,
                   CASE WHEN x.n_m < 2 THEN 'Z'
                        WHEN sqrt((x.s2 - CAST(x.s1 AS DOUBLE) * x.s1 / x.n_m)
                                  / (x.n_m - 1))
                             / (CAST(x.s1 AS DOUBLE) / x.n_m) < 0.5 THEN 'X'
                        WHEN sqrt((x.s2 - CAST(x.s1 AS DOUBLE) * x.s1 / x.n_m)
                                  / (x.n_m - 1))
                             / (CAST(x.s1 AS DOUBLE) / x.n_m) < 1.0 THEN 'Y'
                        ELSE 'Z' END AS xyz_class,
                   a.rev
            FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
        ),
        tot AS (SELECT CAST(SUM(rev) AS DOUBLE) AS t FROM classed)
        SELECT abc_class, xyz_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               ROUND(CAST(SUM(rev) AS DOUBLE) / tot.t, 6) AS revenue_share
        FROM classed CROSS JOIN tot
        GROUP BY abc_class, xyz_class, tot.t
        ORDER BY abc_class, xyz_class
    """,
    tags=("D-abcxyz",),
)
def agg_abc_xyz_matrix(spark, sf_dir):
    """The ABC×XYZ planning matrix — the inventory-strategy grid:
    ABC classes parts by cumulative revenue share (80/95 cuts, the
    agg_abc_classification machinery) and XYZ by demand
    PREDICTABILITY (coefficient of variation of monthly quantity:
    X < 0.5 steady, Y < 1.0 variable, Z ≥ 1.0 erratic / too sparse
    to judge); the 3×3 cell counts + revenue shares drive
    stock-policy choices (AX = automate, CZ = make-to-order).

    Exactness: revenue ranks cumulate through banded_running (exact
    decimal, no unpartitioned window — the gini discipline, where
    the parent ABC key keeps the allowlisted naive form); monthly
    demand moments are exact BIGINTs; CV and the class cuts are
    fixed float expressions of exact integers; cell aggregates are
    exact with one rounded share.

    100 TB posture: two map-side-combined aggregates over one fact
    table (per-part revenue, per-part-month quantity) joined on
    partkey; the classing is expression-only; output is ≤9 cells."""
    from etl_builder_spark.operators.stats import banded_running

    li = load_table(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice")).alias("rev")
    ).persist()
    ranked = banded_running(
        parts, value_col="rev", tiebreak_col="l_partkey", descending=True,
        sum_col="rev",
    ).select("l_partkey", "rev", F.col("run_sum").alias("cum_rev"))
    tot_rev = parts.agg(F.sum("rev").alias("tot_rev"))
    share = F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double")
    abc = ranked.crossJoin(F.broadcast(tot_rev)).select(
        "l_partkey",
        "rev",
        F.when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", F.col("l_shipdate")).alias("m")
    ).agg(F.sum(nan_to_null("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    xyz = monthly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        F.sum("q").cast("bigint").alias("s1"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    cv = F.sqrt(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_m"))
        / (F.col("n_m") - 1)
    ) / (F.col("s1").cast("double") / F.col("n_m"))
    classed = abc.join(
        xyz.withColumnRenamed("l_partkey", "pk"), abc["l_partkey"] == F.col("pk")
    ).select(
        "abc_class",
        F.when(F.col("n_m") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "rev",
    )
    tot = classed.agg(F.sum("rev").cast("double").alias("t"))
    return (
        classed.groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("double").alias("cell_rev"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            F.round(F.col("cell_rev") / F.col("t"), 6).alias("revenue_share"),
        )
        .orderBy("abc_class", "xyz_class")
    )
