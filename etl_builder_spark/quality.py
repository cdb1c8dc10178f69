"""Data-quality checks — the validation layer an ETL builder runs
between ingest and publish: uniqueness, null-rate, referential
integrity, range and set-membership checks, emitted as a single
violations-report DataFrame (one aggregation pass per source table,
no per-check scans).

Each check compiles to a conditional aggregate, so a full table audit
is ONE scan + ONE reduce regardless of how many checks are attached —
the only audit shape that survives 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_builder_spark.folding import nan_to_null
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


@dataclass(frozen=True)
class Check:
    name: str
    violation: Column  # boolean column: True = row violates


def not_null(col: str) -> Check:
    return Check(f"not_null:{col}", F.col(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    return Check(f"range:{col}", ~F.col(col).between(lo, hi))


def in_set(col: str, values: tuple) -> Check:
    return Check(f"set:{col}", ~F.col(col).isin(*values))


def matches(col: str, regex: str) -> Check:
    return Check(f"regex:{col}", ~F.col(col).rlike(regex))


def audit(df: DataFrame, checks: list[Check]) -> DataFrame:
    """One-pass audit: total rows + violation count per check."""
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count(F.when(c.violation, F.lit(1))).alias(c.name) for c in checks
    ]
    wide = df.agg(*aggs)
    names = [c.name for c in checks]
    return wide.selectExpr(
        "n_rows",
        f"stack({len(names)}, "
        + ", ".join(f"'{n}', `{n}`" for n in names)
        + ") as (check_name, n_violations)",
    ).select("check_name", "n_violations", "n_rows")


def check_referential(child: DataFrame, child_key: str, parent: DataFrame, parent_key: str) -> DataFrame:
    """Orphan report: child keys with no parent (anti join)."""
    return (
        child.join(parent, child[child_key] == parent[parent_key], "left_anti")
        .select(F.col(child_key).alias("orphan_key"))
        .groupBy("orphan_key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "dq_audit_orders",
    oracle="""
        WITH wide AS (
            SELECT COUNT(*) AS n_rows,
                   COUNT(*) FILTER (WHERE o_custkey IS NULL) AS nn,
                   COUNT(*) FILTER (WHERE NOT o_totalprice BETWEEN 0 AND 1000000) AS rng,
                   COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS st,
                   COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS rx
            FROM orders
        )
        SELECT 'not_null:o_custkey' AS check_name, nn AS n_violations, n_rows FROM wide
        UNION ALL SELECT 'range:o_totalprice', rng, n_rows FROM wide
        UNION ALL SELECT 'set:o_orderstatus', st, n_rows FROM wide
        UNION ALL SELECT 'regex:o_orderpriority', rx, n_rows FROM wide
    """,
    tags=("DQ",),
)
def dq_audit_orders(spark, sf_dir):
    """Single-pass audit of orders: null / range / set / regex checks
    in one conditional-aggregate scan."""
    o = load_table(spark, sf_dir, "orders")
    return audit(
        o,
        [
            not_null("o_custkey"),
            in_range("o_totalprice", 0, 1_000_000),
            in_set("o_orderstatus", ("O", "F", "P")),
            matches("o_orderpriority", "^[1-5]-"),
        ],
    )


@register(
    "dq_orphans_lineitem",
    oracle="""
        SELECT l_orderkey AS orphan_key, COUNT(*) AS n_rows
        FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        GROUP BY l_orderkey
    """,
    tags=("DQ",),
)
def dq_orphans_lineitem(spark, sf_dir):
    """Referential-integrity report (empty on the intact corpus —
    asserting zero orphans IS the check)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return check_referential(l, "l_orderkey", o, "o_orderkey")


#: PSI drift-monitor config: fixed equal-width value bins (engine-
#: independent edges) and add-one Laplace smoothing so empty bins
#: contribute finite terms
PSI_BIN_WIDTH = 50_000
PSI_N_BINS = 10


@register(
    "dq_distribution_drift",
    oracle=f"""
        WITH bins AS (SELECT unnest(generate_series(0, {PSI_N_BINS - 1})) AS bin),
        ref AS (
            -- GREATEST clamp (r13 negmeasures): a negative total
            -- lands in the bottom bin on BOTH engines (the Spark
            -- side's totals frame only sums bins 0..9, so an
            -- unclamped negative bin silently left the denominator)
            SELECT GREATEST(0, LEAST(CAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}) AS BIGINT),
                         {PSI_N_BINS - 1})) AS bin,
                   COUNT(*) AS n
            -- NaN pin (r13): a NaN total is not an observation.
            -- COALESCE TRUE keeps NULL rows: NOT isnan(NULL) is NULL
            -- (row dropped) in SQL but ~isnan(NULL) is TRUE on Spark,
            -- and the r12-pinned contract bins NULL totals at the clamp
            FROM orders WHERE year(o_orderdate) = 1995
              AND COALESCE(NOT isnan(o_totalprice), TRUE) GROUP BY 1
        ),
        cur AS (
            SELECT GREATEST(0, LEAST(CAST(FLOOR(o_totalprice / {PSI_BIN_WIDTH}) AS BIGINT),
                         {PSI_N_BINS - 1})) AS bin,
                   COUNT(*) AS n
            FROM orders WHERE year(o_orderdate) = 1996
              AND COALESCE(NOT isnan(o_totalprice), TRUE) GROUP BY 1
        ),
        tot AS (
            -- COALESCE to 0 (round-12 degenerate sweep): an empty
            -- period must yield the smoothed uniform p = 1/(0 + bins),
            -- as the Spark side's SUM-over-the-dense-bin-frame does,
            -- not a NULL total that poisons every probability
            SELECT COALESCE((SELECT SUM(n) FROM ref), 0) AS nr,
                   COALESCE((SELECT SUM(n) FROM cur), 0) AS nc
        )
        SELECT b.bin,
               COALESCE(r.n, 0) AS n_ref,
               COALESCE(c.n, 0) AS n_cur,
               ROUND((COALESCE(r.n, 0) + 1.0) / (t.nr + {PSI_N_BINS}.0), 6) AS p_ref,
               ROUND((COALESCE(c.n, 0) + 1.0) / (t.nc + {PSI_N_BINS}.0), 6) AS p_cur,
               ROUND(((COALESCE(c.n, 0) + 1.0) / (t.nc + {PSI_N_BINS}.0)
                      - (COALESCE(r.n, 0) + 1.0) / (t.nr + {PSI_N_BINS}.0))
                     * ln(((COALESCE(c.n, 0) + 1.0) / (t.nc + {PSI_N_BINS}.0))
                          / ((COALESCE(r.n, 0) + 1.0) / (t.nr + {PSI_N_BINS}.0))), 6)
                   AS psi_term
        FROM bins b
        LEFT JOIN ref r ON r.bin = b.bin
        LEFT JOIN cur c ON c.bin = b.bin
        CROSS JOIN tot t
    """,
    tags=("DQ",),
)
def dq_distribution_drift(spark, sf_dir):
    """Population-stability-index drift monitor: compare o_totalprice's
    distribution between a reference period (1995) and a current
    period (1996) over fixed equal-width bins; per-bin PSI terms
    (sum > 0.25 is the classic retrain-the-model alarm).

    The pipeline-monitoring primitive for detecting data drift between
    ETL runs: fixed engine-independent bin edges (never data-dependent
    quantiles, which would make the monitor drift with the data it
    monitors), add-one Laplace smoothing so empty bins stay finite,
    and one conditional-aggregate scan per period.  100 TB posture:
    each period's histogram is a 10-row aggregate (map-side combined);
    the join/PSI math runs on 10-row frames — cost is the two scans,
    which at scale read only the monitored column + partition-pruned
    date range."""
    o = load_table(spark, sf_dir, "orders")
    # GREATEST clamp (r13 negmeasures): see the oracle comment
    bin_col = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.floor(F.col("o_totalprice") / PSI_BIN_WIDTH).cast("long"),
            F.lit(PSI_N_BINS - 1),
        ),
    )

    def hist(year: int, n_name: str):
        return (
            # NaN pin (r13): mirror the oracle — NaN totals are not
            # observations of the monitored distribution
            o.where((F.year("o_orderdate") == year) & ~F.isnan("o_totalprice"))
            .groupBy(bin_col.alias("bin"))
            .agg(F.count(F.lit(1)).alias(n_name))
        )

    bins = spark.range(PSI_N_BINS).select(F.col("id").alias("bin"))
    ref, cur = hist(1995, "n_ref"), hist(1996, "n_cur")
    joined = (
        bins.join(F.broadcast(ref), "bin", "left")
        .join(F.broadcast(cur), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        # persisted (10 rows): the totals aggregate and the final PSI
        # projection both consume it — unpersisted, each re-runs BOTH
        # period scans (4 source scans; round-5 multi-scan plan audit)
        .persist()
    )
    tot = joined.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p_ref = (F.col("n_ref") + 1.0) / (F.col("tr") + float(PSI_N_BINS))
    p_cur = (F.col("n_cur") + 1.0) / (F.col("tc") + float(PSI_N_BINS))
    return joined.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


#: The declared column contract for ``orders`` — name → canonical type.
#: Two DELIBERATE contract violations against the shipped corpus keep
#: the operator honest: o_totalprice is contracted as decimal(15,2)
#: (the warehouse-grade money type; the corpus ships float64) and
#: o_comment is contracted but absent (the corpus is trimmed).
ORDERS_CONTRACT: tuple[tuple[str, str], ...] = (
    ("o_orderkey", "int64"),
    ("o_custkey", "int64"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "decimal(15,2)"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
    ("o_comment", "string"),
)

#: Spark simple-type → canonical contract type.  timestamp_ntz and
#: timestamp unify: the contract is about logical shape, and the
#:  corpus has shipped both parquet encodings across generations.
_SPARK_CANON = {
    "bigint": "int64",
    "int": "int32",
    "string": "string",
    "double": "float64",
    "float": "float32",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


@register(
    "dq_schema_contract",
    oracle="""
        WITH obs AS (
            SELECT column_name,
                   CASE WHEN column_type = 'BIGINT' THEN 'int64'
                        WHEN column_type = 'INTEGER' THEN 'int32'
                        WHEN column_type = 'VARCHAR' THEN 'string'
                        WHEN column_type = 'DOUBLE' THEN 'float64'
                        WHEN column_type = 'FLOAT' THEN 'float32'
                        WHEN column_type = 'DATE' THEN 'date'
                        WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
                        ELSE lower(column_type) END AS observed_type
            FROM (DESCRIBE SELECT * FROM orders)
        ),
        contract(column_name, expected_type) AS (
            VALUES ('o_orderkey', 'int64'),
                   ('o_custkey', 'int64'),
                   ('o_orderstatus', 'string'),
                   ('o_totalprice', 'decimal(15,2)'),
                   ('o_orderdate', 'timestamp'),
                   ('o_orderpriority', 'string'),
                   ('o_comment', 'string')
        ),
        wide AS (
            SELECT COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n0,
                   COUNT(*) FILTER (WHERE o_custkey IS NULL) AS n1,
                   COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS n2,
                   COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS n3,
                   COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS n4,
                   COUNT(*) FILTER (WHERE o_orderpriority IS NULL) AS n5
            FROM orders
        ),
        nulls AS (
            SELECT 'o_orderkey' AS column_name, n0 AS n_nulls FROM wide
            UNION ALL SELECT 'o_custkey', n1 FROM wide
            UNION ALL SELECT 'o_orderstatus', n2 FROM wide
            UNION ALL SELECT 'o_totalprice', n3 FROM wide
            UNION ALL SELECT 'o_orderdate', n4 FROM wide
            UNION ALL SELECT 'o_orderpriority', n5 FROM wide
        )
        SELECT COALESCE(c.column_name, o.column_name) AS column_name,
               c.expected_type,
               o.observed_type,
               CASE WHEN c.expected_type IS NULL THEN 'unexpected'
                    WHEN o.observed_type IS NULL THEN 'missing'
                    WHEN c.expected_type = o.observed_type THEN 'ok'
                    ELSE 'type_mismatch' END AS status,
               n.n_nulls
        FROM contract c
        FULL JOIN obs o ON c.column_name = o.column_name
        LEFT JOIN nulls n ON n.column_name = COALESCE(c.column_name, o.column_name)
    """,
    tags=("DQ-contract",),
)
def dq_schema_contract(spark, sf_dir):
    """Schema-contract validation — the ingestion gate that runs BEFORE
    any row-level audit: reconcile the observed parquet schema against
    the declared contract (ORDERS_CONTRACT) and report, per column,
    ok / type_mismatch / missing / unexpected plus the observed null
    count.  On this corpus it must flag exactly two violations: the
    contracted decimal money type (float64 shipped) and the contracted
    o_comment column (trimmed away).

    100 TB posture: the schema half is pure METADATA — parquet footers
    via the catalog, zero data scanned; the null-count half is one
    conditional-aggregate scan that AQE map-side-combines.  This is
    the check that catches a corpus regeneration silently changing a
    physical type (events.ts has done exactly that across generations
    — FIXTURES.md) before a week of jobs consume the drift."""
    o = load_table(spark, sf_dir, "orders")
    observed = [(name, _SPARK_CANON.get(t, t)) for name, t in o.dtypes]
    obs_df = spark.createDataFrame(observed, "column_name string, observed_type string")
    con_df = spark.createDataFrame(
        list(ORDERS_CONTRACT), "column_name string, expected_type string"
    )
    wide = o.agg(
        *[
            F.count(F.when(F.col(name).isNull(), F.lit(1))).alias(name)
            for name, _ in o.dtypes
        ]
    )
    names = [name for name, _ in o.dtypes]
    nulls = wide.selectExpr(
        f"stack({len(names)}, "
        + ", ".join(f"'{n}', `{n}`" for n in names)
        + ") as (column_name, n_nulls)"
    )
    status = (
        F.when(F.col("expected_type").isNull(), F.lit("unexpected"))
        .when(F.col("observed_type").isNull(), F.lit("missing"))
        .when(F.col("expected_type") == F.col("observed_type"), F.lit("ok"))
        .otherwise(F.lit("type_mismatch"))
    )
    return (
        con_df.join(obs_df, "column_name", "full_outer")
        .join(nulls, "column_name", "left")
        .select("column_name", "expected_type", "observed_type", status.alias("status"), "n_nulls")
    )


@register(
    "dq_null_profile",
    oracle="""
        WITH wide AS (
            SELECT COUNT(*) AS n_rows,
                   COUNT(o_orderkey) AS nn_orderkey,
                   COUNT(DISTINCT o_orderkey) AS nd_orderkey,
                   COUNT(o_custkey) AS nn_custkey,
                   COUNT(DISTINCT o_custkey) AS nd_custkey,
                   COUNT(o_orderstatus) AS nn_orderstatus,
                   COUNT(DISTINCT o_orderstatus) AS nd_orderstatus,
                   COUNT(o_totalprice) AS nn_totalprice,
                   COUNT(DISTINCT o_totalprice) AS nd_totalprice,
                   COUNT(o_orderdate) AS nn_orderdate,
                   COUNT(DISTINCT o_orderdate) AS nd_orderdate,
                   COUNT(o_orderpriority) AS nn_orderpriority,
                   COUNT(DISTINCT o_orderpriority) AS nd_orderpriority
            FROM orders
        )
        SELECT 'o_orderkey' AS column_name, n_rows,
               n_rows - nn_orderkey AS n_nulls, nd_orderkey AS n_distinct FROM wide
        UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn_custkey, nd_custkey FROM wide
        UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn_orderstatus, nd_orderstatus FROM wide
        UNION ALL SELECT 'o_totalprice', n_rows, n_rows - nn_totalprice, nd_totalprice FROM wide
        UNION ALL SELECT 'o_orderdate', n_rows, n_rows - nn_orderdate, nd_orderdate FROM wide
        UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn_orderpriority, nd_orderpriority FROM wide
    """,
    tags=("DQ-profile",),
)
def dq_null_profile(spark, sf_dir):
    """Column-profiling report (the `DESCRIBE`/profiler shape every DQ
    tool ships): per-column row/null/exact-distinct counts computed in
    ONE scan of the table — all counts are conditional aggregates of a
    single pass, then the wide row is unpivoted to the long report.
    Exact distincts cost one expand-style aggregate; at 100 TB swap
    COUNT(DISTINCT) for approx_count_distinct per column (documented
    tradeoff) — the scan/unpivot shape is unchanged."""
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    # one plan branch: stack() unpivots the single wide row — a
    # union of per-column projections would RE-DERIVE the scan and
    # the multi-distinct aggregate once per column (6 scans; caught
    # by the round-5 multi-scan plan audit)
    stack_args = ", ".join(
        f"'{c}', n_rows - nn_{c}, nd_{c}" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (column_name, n_nulls, n_distinct)",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


@register(
    "dq_quarantine_split",
    oracle="""
        WITH src AS (
            SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN '{{{' || props ELSE props END
                       AS props2,
                   CASE WHEN event_id % 11 = 0 THEN 'N/A'
                        ELSE printf('%.2f', value) END AS value_str
            FROM events
        ),
        parsed AS (
            SELECT event_id, event_type,
                   CASE WHEN json_valid(props2)
                        THEN TRY_CAST(json_extract_string(props2, '$.k') AS INTEGER)
                   END AS k_value,
                   TRY_CAST(value_str AS DOUBLE) AS value_parsed
            FROM src
        )
        SELECT event_id, event_type,
               CASE WHEN k_value IS NULL THEN 'quarantine:bad_json'
                    WHEN value_parsed IS NULL THEN 'quarantine:bad_value'
                    ELSE 'ok' END AS route,
               k_value, value_parsed
        FROM parsed
    """,
    tags=("DQ-quarantine",),
)
def dq_quarantine_split(spark, sf_dir):
    """Quarantine routing — the error-handling pattern of every ETL
    builder: parse semi-structured input with TRY semantics and tag
    each row 'ok' / 'quarantine:<reason>' in ONE pass, instead of
    letting one malformed row kill an hours-long job (ANSI strict
    mode) or silently dropping it.  Downstream, `route` is the
    partition column of a dynamic-partition-overwrite sink
    (etl_dynamic_partition_overwrite) so the quarantine lands next to
    the good rows, replayable after a fix.

    The fixture corrupts deterministically (every 7th event's JSON
    gets a leading-garbage prefix — chosen because Spark's lenient
    Jackson path accepts TRAILING garbage; every 11th value string
    becomes 'N/A'), so the oracle replays both the corruption and the
    routing exactly.  get_json_object IS Spark's try-parse (NULL on
    malformed); value parsing is try_cast.  Pure expressions, no
    shuffle; the route tag costs two CASE evaluations per row."""
    e = load_table(spark, sf_dir, "events")
    props2 = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("{{{"), F.col("props"))
    ).otherwise(F.col("props"))
    value_str = F.when(F.col("event_id") % 11 == 0, F.lit("N/A")).otherwise(
        F.format_string("%.2f", F.col("value"))
    )
    parsed = e.select(
        "event_id",
        "event_type",
        F.get_json_object(props2, "$.k").try_cast("int").alias("k_value"),
        value_str.alias("value_str"),
    ).select(
        "event_id",
        "event_type",
        "k_value",
        F.expr("try_cast(value_str AS DOUBLE)").alias("value_parsed"),
    )
    route = (
        F.when(F.col("k_value").isNull(), "quarantine:bad_json")
        .when(F.col("value_parsed").isNull(), "quarantine:bad_value")
        .otherwise("ok")
    )
    return parsed.select(
        "event_id", "event_type", route.alias("route"), "k_value", "value_parsed"
    )


@register(
    "dq_value_topk",
    oracle="""
        WITH long AS (
            SELECT 'o_orderstatus' AS column_name, o_orderstatus AS value FROM orders
            UNION ALL
            SELECT 'o_orderpriority', o_orderpriority FROM orders
        ),
        counted AS (
            SELECT column_name, value, COUNT(*) AS n
            FROM long GROUP BY column_name, value
        ),
        tot AS (
            SELECT column_name, SUM(n) AS n_total FROM counted GROUP BY column_name
        )
        SELECT c.column_name, c.value, c.n,
               ROUND(CAST(c.n AS DOUBLE) / t.n_total, 6) AS share,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c.column_name ORDER BY c.n DESC, c.value
               ) AS INT) AS rnk
        FROM counted c JOIN tot t USING (column_name)
        QUALIFY rnk <= 5
    """,
    tags=("DQ-values",),
)
def dq_value_topk(spark, sf_dir):
    """Value-distribution profile: each categorical column's top-5
    values with counts and shares — the profiler report next to
    dq_null_profile's null/distinct census (catches category drift,
    unexpected enum values, constant columns).  Columns unpivot into
    one long (column, value) stream so a single aggregate + one
    WindowGroupLimit serve every column — adding a column to the
    profile adds no pass."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    long = o.select(
        F.lit("o_orderstatus").alias("column_name"),
        F.col("o_orderstatus").alias("value"),
    ).unionByName(
        o.select(
            F.lit("o_orderpriority").alias("column_name"),
            F.col("o_orderpriority").alias("value"),
        )
    )
    counted = long.groupBy("column_name", "value").agg(F.count(F.lit(1)).alias("n"))
    # column totals as a window sum over the counted frame — a
    # groupBy + self-join would re-derive the two-scan union per
    # consumer (round-5 multi-scan audit); the window shares the
    # ranking window's column_name partitioning, so no extra exchange
    w = Window.partitionBy("column_name").orderBy(F.col("n").desc(), "value")
    n_total = F.sum("n").over(Window.partitionBy("column_name"))
    return (
        counted.select(
            "column_name",
            "value",
            "n",
            F.round(F.col("n").cast("double") / n_total, 6).alias("share"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 5)
    )


@register(
    "dq_reconcile_order_totals",
    oracle="""
        WITH li AS (
            SELECT l_orderkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))
                       * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS computed
            FROM lineitem GROUP BY l_orderkey
        ),
        per_order AS (
            SELECT o.o_orderkey,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS booked,
                   li.computed,
                   abs(CAST(o_totalprice AS DECIMAL(18,2)) - li.computed) AS adiff
            FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
        )
        SELECT COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN adiff > 0.01 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mismatched,
               ROUND(CAST(SUM(adiff) AS DOUBLE) / COUNT(*), 6) AS mean_abs_diff,
               CAST(MAX(adiff) AS DOUBLE) AS max_abs_diff,
               ROUND(CAST(SUM(CASE WHEN adiff > 0.01 THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS mismatch_share
        FROM per_order
    """,
    tags=("DQ-reconcile",),
)
def dq_reconcile_order_totals(spark, sf_dir):
    """Cross-table reconciliation — 'do the books balance': each
    order's booked total vs the charge recomputed from its line items
    (price·(1−discount)·(1+tax)), reported as mismatch counts and
    error magnitudes.  The fact-vs-fact consistency audit that
    complements dq_orphans_lineitem's key-level integrity; on a real
    warehouse this runs after every load and its mismatch_share is an
    SLO.  All arithmetic and the |diff| accumulation stay in exact
    decimal (order-free), so even the error MAGNITUDES are
    bit-reproducible; one lineitem aggregate co-keyed with the join,
    then a 1-row summary."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    computed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            * (F.lit(1) + F.col("l_tax").cast("decimal(18,2)"))
        ).alias("computed")
    )
    per_order = o.join(computed, o.o_orderkey == computed.l_orderkey).select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("booked"),
        "computed",
        F.abs(
            F.col("o_totalprice").cast("decimal(18,2)") - F.col("computed")
        ).alias("adiff"),
    )
    mism = F.sum(F.when(F.col("adiff") > 0.01, 1).otherwise(0))
    return per_order.agg(
        F.count(F.lit(1)).alias("n_orders"),
        mism.cast("bigint").alias("n_mismatched"),
        F.round(F.sum("adiff").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_abs_diff"
        ),
        F.max("adiff").cast("double").alias("max_abs_diff"),
        F.round(mism.cast("double") / F.count(F.lit(1)), 6).alias("mismatch_share"),
    )


@register(
    "dq_freshness_sla",
    oracle="""
        WITH ref AS (SELECT MAX(ts) AS ref_ts FROM events),
        per AS (
            SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_events
            FROM events GROUP BY event_type
        )
        SELECT p.event_type, p.last_ts, r.ref_ts, p.n_events,
               CAST(epoch_us(r.ref_ts) - epoch_us(p.last_ts) AS DOUBLE)
                   / 60000000.0 AS lag_minutes,
               (epoch_us(r.ref_ts) - epoch_us(p.last_ts) <= 7200000000)
                   AS within_sla
        FROM per p CROSS JOIN ref r
    """,
    tags=("DQ-freshness",),
)
def dq_freshness_sla(spark, sf_dir):
    """Pipeline freshness audit: per event stream, how stale is the
    newest record relative to the corpus high-water mark, and does it
    meet a 2-hour SLA — the monitoring query every ingest DAG runs
    after each batch (a silent upstream stall shows up as one
    stream's lag growing while the others advance).

    100 TB posture: a single MAX aggregation per type with map-side
    combine (each mapper emits one row per type), the global
    high-water mark a broadcast 1-row frame; on a date-partitioned
    layout the scan prunes to recent partitions since older ones
    cannot contain the max.  Lag arithmetic is exact epoch-µs
    integers; the only double is one final IEEE division (policy
    §7.2).  In production ref_ts is the wall clock — derived here
    from the corpus so the oracle can mirror it."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ).persist()
    # the high-water mark is the max of the per-type maxes — derived
    # from the persisted rollup, not a second source scan
    ref = per.agg(F.max("last_ts").alias("ref_ts"))
    lag_us = F.unix_micros(F.col("ref_ts")) - F.unix_micros(F.col("last_ts"))
    return per.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "last_ts",
        "ref_ts",
        "n_events",
        (lag_us.cast("double") / F.lit(60000000.0)).alias("lag_minutes"),
        (lag_us <= 120 * 60000000).alias("within_sla"),
    )


#: Benford first-digit expectations log10(1 + 1/d), precomputed Python
#: floats injected as LITERALS into both engines (no cross-engine
#: log() evaluation — the ts_ewma_hourly literal-injection pattern).
BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in BENFORD_P.items()
) + " END"


@register(
    "dq_benford_deviation",
    oracle=f"""
        WITH digits AS (
            -- ABS (r13 negmeasures): Benford reads the first
            -- SIGNIFICANT digit — a negative total's leading char is
            -- '-', which is not a digit (and errored the INT cast)
            SELECT CAST(substr(CAST(abs(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR), 1, 1)
                        AS INT) AS digit
            FROM orders
        ),
        obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
        SELECT digit, n,
               CAST(n AS DOUBLE) / t AS observed_p,
               {_BENFORD_CASE} AS benford_p,
               ROUND(abs(CAST(n AS DOUBLE) / t - ({_BENFORD_CASE})), 6) AS abs_dev
        FROM obs CROSS JOIN tot
    """,
    tags=("DQ-benford",),
)
def dq_benford_deviation(spark, sf_dir):
    """Benford's-law conformance audit on order totals: the observed
    first-significant-digit distribution vs log10(1+1/d) — the
    classic fabricated-data / fraud screen for financial measures.
    The first digit is taken from the DECIMAL(18,2) string form
    (exact, and rendered identically by both engines — double
    formatting would go scientific past 1e7), expectations are
    injected as precomputed literals so no cross-engine log() runs,
    and the only floats are identical IEEE divisions of exact counts.

    100 TB posture: a 9-group hash aggregation with map-side combine
    (each mapper emits ≤ 9 rows) plus a broadcast 1-row total — the
    cheapest possible full-table audit shape; digit extraction is
    expression-only inside whole-stage codegen.  Sensible deviation
    thresholds (chi-square or MAD-based) are a consumer policy on top
    of the per-digit abs_dev this emits."""
    from etl_builder_spark.policy import money

    o = load_table(spark, sf_dir, "orders")
    # ABS (r13 negmeasures): first significant digit is sign-agnostic
    digit = F.substring(F.abs(money("o_totalprice")).cast("string"), 1, 1).cast("int")
    obs = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()  # 9 rows; feeds the total AND the final projection
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("t"))
    benford = F.col("digit")
    expr = None
    for d, p in BENFORD_P.items():
        expr = F.when(benford == d, F.lit(p)) if expr is None else expr.when(benford == d, F.lit(p))
    observed = F.col("n").cast("double") / F.col("t")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        observed.alias("observed_p"),
        expr.alias("benford_p"),
        F.round(F.abs(observed - expr), 6).alias("abs_dev"),
    )


@register(
    "dq_referential_coverage",
    oracle="""
        WITH li AS (
            SELECT COUNT(*) AS n_child,
                   COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS orph_ord,
                   COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS orph_part,
                   COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS orph_supp
            FROM lineitem l
            LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
            LEFT JOIN part p ON p.p_partkey = l.l_partkey
            LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
        ),
        oc AS (
            SELECT COUNT(*) AS n_child,
                   COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS orph
            FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        )
        SELECT 'lineitem.l_orderkey->orders' AS fk, n_child,
               CAST(orph_ord AS BIGINT) AS n_orphans,
               ROUND(1.0 - CAST(orph_ord AS DOUBLE) / n_child, 6) AS coverage
        FROM li
        UNION ALL
        SELECT 'lineitem.l_partkey->part', n_child,
               CAST(orph_part AS BIGINT),
               ROUND(1.0 - CAST(orph_part AS DOUBLE) / n_child, 6) FROM li
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier', n_child,
               CAST(orph_supp AS BIGINT),
               ROUND(1.0 - CAST(orph_supp AS DOUBLE) / n_child, 6) FROM li
        UNION ALL
        SELECT 'orders.o_custkey->customer', n_child,
               CAST(orph AS BIGINT),
               ROUND(1.0 - CAST(orph AS DOUBLE) / n_child, 6) FROM oc
    """,
    tags=("DQ-referential",),
)
def dq_referential_coverage(spark, sf_dir):
    """Referential-coverage matrix: every foreign key in the star
    audited at once — child rows, orphan rows, coverage fraction —
    the one-report answer to "is the warehouse internally
    consistent?" (dq_orphans_lineitem lists one FK's offenders; this
    is the summary across all FKs a publish gate thresholds on).

    One pass per CHILD table regardless of FK count: all of
    lineitem's parents attach as left joins to the same scan and each
    FK's orphan count is a conditional aggregate (the quality.py
    one-scan audit contract); the wide row unpivots via stack — not
    a per-FK union re-scanning the child (the anti-pattern the
    round-5 multi-scan audit hunts).

    100 TB posture: parents join broadcast where they fit
    (part/supplier/customer dims) and shuffle otherwise
    (orders←lineitem — the unavoidable fact-fact check, bucketable by
    orderkey per A4c); orphan counting adds nothing beyond the joins
    themselves."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li = (
        l.join(
            o.select(F.col("o_orderkey").alias("po")),
            F.col("po") == F.col("l_orderkey"),
            "left",
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("pp"))
            ),
            F.col("pp") == F.col("l_partkey"),
            "left",
        )
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("ps"))
            ),
            F.col("ps") == F.col("l_suppkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.count(F.when(F.col("po").isNull(), 1)).alias("orph_ord"),
            F.count(F.when(F.col("pp").isNull(), 1)).alias("orph_part"),
            F.count(F.when(F.col("ps").isNull(), 1)).alias("orph_supp"),
        )
    )
    oc = (
        o.join(
            F.broadcast(
                load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("pc"))
            ),
            F.col("pc") == F.col("o_custkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_child"),
            F.count(F.when(F.col("pc").isNull(), 1)).alias("orph"),
        )
    )
    li_long = li.selectExpr(
        "n_child",
        "stack(3, 'lineitem.l_orderkey->orders', orph_ord, "
        "'lineitem.l_partkey->part', orph_part, "
        "'lineitem.l_suppkey->supplier', orph_supp) as (fk, n_orphans)",
    )
    oc_long = oc.select(
        "n_child",
        F.lit("orders.o_custkey->customer").alias("fk"),
        F.col("orph").alias("n_orphans"),
    )
    # NULLIF-guarded (round-12 degenerate sweep): zero child rows makes
    # coverage the defined NULL on both engines (DuckDB 0/0 is NULL),
    # never DIVIDE_BY_ZERO
    cov = F.round(
        F.lit(1.0) - F.col("n_orphans").cast("double") / F.nullif(F.col("n_child"), F.lit(0)),
        6,
    )
    return li_long.unionByName(oc_long).select(
        "fk", "n_child", "n_orphans", cov.alias("coverage")
    )


@register(
    "dq_k_anonymity",
    oracle="""
        WITH qi AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(FLOOR(CAST(c_acctbal AS DECIMAL(18,2)) / 1000) AS BIGINT)
                       AS balance_band,
                   COUNT(*) AS class_size
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT CAST(5 AS INT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_risky_classes,
               CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                    AS BIGINT) AS n_risky_rows,
               CAST(MIN(class_size) AS BIGINT) AS min_class_size,
               ROUND(CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                          AS DOUBLE) / SUM(class_size), 6) AS risky_row_share
        FROM qi
    """,
    tags=("DQ-kanon",),
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity risk profile over a quasi-identifier tuple
    (nation, market segment, banded account balance) — the standard
    re-identification check before releasing or training on
    user-derived tables: any equivalence class smaller than k means
    those rows are linkable.  Reports class census, the sub-k class
    and row counts, the minimum class size (the table's effective k)
    and the at-risk row share.

    Determinism: the balance band floors an EXACT decimal division, so
    banding is integer-identical cross-engine; everything downstream
    is integer counting and one final division of identically-derived
    values.

    100 TB posture: one hash aggregation on the QI tuple (map-side
    combined) then a 1-row reduction over the class census — the class
    frame is |distinct QI tuples|, not |rows|.  Generalization search
    (coarsen bands until min_class_size ≥ k) re-runs only the census
    aggregation per candidate lattice level; suppression = anti-join
    against the sub-k class list, same shuffle key."""
    c = load_table(spark, sf_dir, "customer")
    k = 5
    band = F.floor(F.col("c_acctbal").cast("decimal(18,2)") / 1000).cast("bigint")
    qi = c.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("balance_band")
    ).agg(F.count(F.lit(1)).alias("class_size"))
    risky = F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0)
    return qi.agg(
        F.lit(k).cast("int").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum(F.when(F.col("class_size") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("n_risky_classes"),
        F.sum(risky).cast("bigint").alias("n_risky_rows"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.round(
            F.sum(risky).cast("double") / F.sum("class_size"), 6
        ).alias("risky_row_share"),
    )


@register(
    "dq_outlier_iqr",
    oracle="""
        WITH o2 AS (
            SELECT o_orderpriority,
                   CASE WHEN isnan(o_totalprice) THEN NULL
                        ELSE o_totalprice END AS price
            FROM orders
        ),
        q AS (
            SELECT o_orderpriority AS grp,
                   ROUND(quantile_cont(price, 0.25), 6) AS q1,
                   ROUND(quantile_cont(price, 0.75), 6) AS q3
            FROM o2 GROUP BY 1
        )
        SELECT o.o_orderpriority AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(q.q1) AS q1, MIN(q.q3) AS q3,
               CAST(SUM(CASE WHEN o.price
                                  < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN o.price
                                  > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high
        FROM o2 o JOIN q ON o.o_orderpriority = q.grp
        GROUP BY 1
    """,
    tags=("DQ-outlier",),
)
def dq_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier census per priority class: quartiles via the
    interpolated-percentile parity the D10 key verifies every round,
    fences q1 − 1.5·IQR / q3 + 1.5·IQR as fixed float expressions of
    the 6-dp-rounded quartiles, counted against the exact 2-dp totals.
    Two passes — a 5-row quantile aggregate broadcast back over one
    more scan — the standard distributed outlier monitor."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "price", nan_to_null("o_totalprice")
    )
    q = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.round(F.percentile("price", F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile("price", F.lit(0.75)), 6).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        o.join(F.broadcast(q), o.o_orderpriority == q.grp)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum(F.when(F.col("price") < lo, 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(F.col("price") > hi, 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
        )
    )


@register(
    "dq_table_fingerprint",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(CAST(SUM(CAST(concat('0x', substr(md5(concat_ws('|',
                        o_orderkey, o_custkey, o_orderstatus,
                        CAST(o_totalprice AS DECIMAL(18,2)),
                        CAST(o_orderdate AS DATE),
                        o_orderpriority)), 1, 8)) AS BIGINT))
                    AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
        FROM orders
    """,
    tags=("DQ-integrity",),
)
def dq_table_fingerprint(spark, sf_dir):
    """Order-free content fingerprint of the orders table: each row
    serializes to a canonical string (BIGINT keys, DECIMAL(18,2)
    money, DATE-cast timestamp — formats verified byte-identical
    across engines), hashes to the first 32 md5 bits, and the
    fingerprint is the exact DECIMAL sum of the row hashes — identical
    under any partitioning, any row order, any engine.  The
    cross-system integrity check replication/migration pipelines run:
    compare one number per table per side; a single changed row moves
    it.  One scan, one 1-row reduction; at 100 TB the same expression
    runs per partition and the partial sums add exactly."""
    o = load_table(spark, sf_dir, "orders")
    row = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)"),
        F.col("o_orderdate").cast("date"),
        F.col("o_orderpriority"),
    )
    h32 = F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("long")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(h32.cast("decimal(38,0)")).cast("string").alias("fingerprint"),
    )


#: the declarative rule table for dq_cross_field_rules: (id, name,
#: violation predicate) — predicates are written once and rendered
#: into BOTH engines, so the rule set can't drift between them.
CROSS_FIELD_RULES = (
    (1, "discount_out_of_band", "l_discount < 0 OR l_discount > 0.1"),
    (2, "tax_negative", "l_tax < 0"),
    (3, "quantity_out_of_domain", "l_quantity < 1 OR l_quantity > 50"),
    (4, "price_not_positive", "l_extendedprice <= 0"),
    (5, "deep_discount_small_lot", "l_discount > 0.05 AND l_quantity < 5"),
    (6, "taxed_more_than_discounted", "l_tax > l_discount + 0.05"),
)


@register(
    "dq_cross_field_rules",
    oracle=f"""
        WITH flags AS (
            SELECT
                {", ".join(f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS v{rid}" for rid, _, pred in CROSS_FIELD_RULES)},
                CAST(COUNT(*) AS BIGINT) AS n
            FROM (
                SELECT l_orderkey, l_linenumber,
                       CASE WHEN isnan(l_discount) THEN NULL ELSE l_discount END AS l_discount,
                       CASE WHEN isnan(l_tax) THEN NULL ELSE l_tax END AS l_tax,
                       CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END AS l_quantity,
                       CASE WHEN isnan(l_extendedprice) THEN NULL ELSE l_extendedprice END AS l_extendedprice
                FROM lineitem
            )
        )
        SELECT * FROM (
            {" UNION ALL ".join(f"SELECT CAST({rid} AS BIGINT) AS rule_id, '{name}' AS rule_name, v{rid} AS n_violations, ROUND(CAST(v{rid} AS DOUBLE) / n, 6) AS violation_share FROM flags" for rid, name, _ in CROSS_FIELD_RULES)}
        )
    """,
    tags=("DQ-rules",),
)
def dq_cross_field_rules(spark, sf_dir):
    """Declarative cross-field rule engine: a TABLE of boolean
    predicates (range checks, domain checks, business-logic
    cross-field rules) evaluated in ONE conditional aggregate over
    lineitem — the data-contract gate pattern, where adding a rule
    adds a counter, never a scan.  The predicate strings are rendered
    into both engines from the same tuple, so the rule set cannot
    drift between the engine and its oracle.

    100 TB posture: |rules| counters in one map-side-combined pass;
    the per-rule report is an |rules|-row constant-width result.
    Quarantine routing (dq_quarantine_split) composes by reusing the
    same predicates as filters."""
    # NaN-sanitized measures (nanmeasures shape): the predicate STRINGS
    # are shared with the oracle, but the engines' NaN comparison
    # semantics differ - a NULL measure fails every rule identically
    # ("an unknown value cannot violate a contract", the total-flag
    # discipline), and the guard is the identity on NaN-free corpora
    l = load_table(spark, sf_dir, "lineitem")
    for m in ("l_discount", "l_tax", "l_quantity", "l_extendedprice"):
        l = l.withColumn(m, nan_to_null(m))
    aggs = [
        F.sum(F.when(F.expr(pred), 1).otherwise(0)).cast("bigint").alias(f"v{rid}")
        for rid, _, pred in CROSS_FIELD_RULES
    ]
    flags = l.agg(*aggs, F.count(F.lit(1)).cast("bigint").alias("n"))
    rows = None
    for rid, name, _ in CROSS_FIELD_RULES:
        r = flags.select(
            F.lit(rid).cast("bigint").alias("rule_id"),
            F.lit(name).alias("rule_name"),
            F.col(f"v{rid}").alias("n_violations"),
            F.round(F.col(f"v{rid}").cast("double") / F.col("n"), 6).alias(
                "violation_share"
            ),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows


@register(
    "dq_observe_metrics",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS revenue_cents,
               -- NaN pin (r13) INSIDE the aggregate: DuckDB's MIN/MAX
               -- rank NaN greatest (NaN-poisoning MAX) where the
               -- declared semantics is NaN-skip — guard per row
               CAST(MIN(CASE WHEN isnan(l_quantity) THEN NULL
                             ELSE l_quantity END) AS BIGINT) AS min_qty,
               CAST(MAX(CASE WHEN isnan(l_quantity) THEN NULL
                             ELSE l_quantity END) AS BIGINT) AS max_qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
    """,
    tags=("DQ-observe",),
)
def dq_observe_metrics(spark, sf_dir):
    """The `observe()` / CollectMetrics API as a declared surface —
    Spark's ZERO-EXTRA-PASS pipeline observability: metrics expressions
    ride along the normal action (here a count over the filtered scan)
    and are harvested from the Observation handle afterwards, instead
    of re-scanning the input with a second aggregate job.  This is how
    production pipelines publish row counts / null counts / value
    ranges per stage without doubling I/O — at 100 TB a separate
    metrics pass IS the cost of the job again, which is exactly what
    observe() exists to avoid.

    Exactness: the metric expressions are exact BIGINT counts and an
    exact int64-cents revenue sum (policy §7.2 money idiom), min/max
    integer order statistics — no floats anywhere; the returned
    single-row frame is built from the harvested metrics via a
    spark.sql VALUES row (the metrics dict is one row on the driver by
    construction — observe() aggregates executor-side and ships only
    the final values).

    The observed frame's own action result (the filtered row count) is
    asserted equal to the harvested n_rows in the round-10 test, which
    is the API's contract: metrics describe exactly the rows the
    action consumed."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("date")
    )
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_cents"),
        F.min(nan_to_null("l_quantity").cast("bigint")).alias("min_qty"),
        F.max(nan_to_null("l_quantity").cast("bigint")).alias("max_qty"),
    )
    observed.count()  # the pipeline's real action; metrics ride along
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_returned"],
                m["revenue_cents"],
                m["min_qty"],
                m["max_qty"],
            )
        ],
        "n_rows bigint, n_returned bigint, revenue_cents bigint, "
        "min_qty bigint, max_qty bigint",
    )
