"""Engine API surfaces declared under the hash (round 11, VERDICT r10
item 2): Spark-4 DataFrame APIs and the SQL-text/DataFrame parity
promise that SURVEY §3.2 makes but no key asserted until now.

These are depth keys, not new operators: each exercises an engine
ENTRY POINT (`DataFrame.transpose`, `spark.sql` + `sameSemantics`)
whose behavior was previously covered only by adjacent keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table, register_views


@register(
    "df_transpose_region_census",
    oracle="""
        WITH per AS (
            SELECT r_name,
                   CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
                   CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_nations
            FROM region
            LEFT JOIN nation ON n_regionkey = r_regionkey
            LEFT JOIN customer ON c_nationkey = n_nationkey
            GROUP BY r_name
        )
        SELECT 'n_customers' AS key,
               MAX(CASE WHEN r_name = 'AFRICA' THEN n_customers END) AS "AFRICA",
               MAX(CASE WHEN r_name = 'AMERICA' THEN n_customers END) AS "AMERICA",
               MAX(CASE WHEN r_name = 'ASIA' THEN n_customers END) AS "ASIA",
               MAX(CASE WHEN r_name = 'EUROPE' THEN n_customers END) AS "EUROPE",
               MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_customers END) AS "MIDDLE EAST"
        FROM per
        UNION ALL
        SELECT 'n_nations' AS key,
               MAX(CASE WHEN r_name = 'AFRICA' THEN n_nations END),
               MAX(CASE WHEN r_name = 'AMERICA' THEN n_nations END),
               MAX(CASE WHEN r_name = 'ASIA' THEN n_nations END),
               MAX(CASE WHEN r_name = 'EUROPE' THEN n_nations END),
               MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN n_nations END)
        FROM per
    """,
    tags=("API-spark4", "reshape"),
    dynamic_schema=True,  # transposed column set = the region names present
)
def df_transpose_region_census(spark, sf_dir):
    """``DataFrame.transpose`` (new in Spark 4.0) as a declared key:
    a per-region census (customers + nations per region, LEFT-joined
    from region so all five rows exist at every SF) is flipped so the
    index column's VALUES become columns and the remaining column
    NAMES become the `key` rows — the metrics-wide-by-dimension
    reshape BI layers ask for.  The oracle rebuilds the transposed
    frame with conditional aggregation over the fixed TPC-H region
    domain, so the transpose semantics themselves (column naming from
    data, key-row synthesis, least-common-type) sit under the hash.

    100 TB posture: transpose is a SMALL-FRAME reshape by contract —
    column count = row count of the input, and the index values are
    collected to the driver to become the schema.  The correct use is
    exactly this shape: transpose an already-aggregated frame (5 rows
    here; thousands at most), never a fact table.  The heavy lifting
    (the census) is an ordinary broadcast-join aggregate that scales
    like every other key; the reshape happens after the data is
    small."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    per = (
        r.join(n, n["n_regionkey"] == r["r_regionkey"], "left")
        .join(c, c["c_nationkey"] == n["n_nationkey"], "left")
        .groupBy("r_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.countDistinct("n_nationkey").alias("n_nations"),
        )
        .orderBy("r_name")
    )
    return per.transpose("r_name")


@register(
    "sql_parameterized_args",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_orderkey) AS first_key
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
        GROUP BY o_orderpriority
    """,
    tags=("SQL-api", "parameterized"),
)
def sql_parameterized_args(spark, sf_dir):
    """Parameterized SQL — ``spark.sql(text, args={...})`` with named
    markers plus the ``IDENTIFIER(:tbl)`` clause: the injection-safe
    binding surface every SQL-templating consumer (dashboards, dbt
    macros, service endpoints) should use instead of string
    interpolation.  Parameters bind as TYPED literals at parse time
    (the double 1000.0 stays a double, the table name resolves through
    IDENTIFIER rather than text splicing), and the oracle runs the
    same query with the literals inlined, so the binding path itself
    is under the hash.

    100 TB posture: parameter binding is parse/analysis-time only —
    the PHYSICAL plan is identical to the literal query's modulo
    expression ids (test-asserted), so constant folding, pushdown and
    pruning are all unchanged and templating carries no runtime
    penalty.  IDENTIFIER keeps multi-tenant table routing out of the
    injection surface at any scale."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_orderkey) AS first_key
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "status": "F", "floor": 1000.0},
    )


@register(
    "sql_pipe_syntax",
    oracle="""
        WITH f AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            WHERE l_quantity >= 25
            GROUP BY l_returnflag
        )
        SELECT l_returnflag, n_items, revenue
        FROM f
        WHERE n_items > 0
        ORDER BY l_returnflag
    """,
    tags=("SQL-api", "pipe-syntax"),
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL PIPE syntax (Spark 4.0's ``|>`` operators, SIGMOD'24
    "pipe-syntax in SQL" shape): the same filter → aggregate →
    having → order pipeline every warehouse query writes, expressed
    as sequential stages instead of inside-out nesting.  Each ``|>``
    stage is sugar over the standard relational operator, so the
    oracle is the equivalent nested-standard-SQL text — values AND
    the plan must be what the classic spelling produces, putting the
    pipe PARSER itself under the hash.

    100 TB posture: pure parse-time sugar — the pipe chain compiles
    to the identical Catalyst plan as the nested form (filter pushed
    to the scan, two-phase aggregate, post-agg filter as a Filter
    above the aggregate), so adopting the more maintainable syntax
    costs nothing at any scale."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 25
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                         AS revenue
           GROUP BY l_returnflag
        |> WHERE n_items > 0
        |> SELECT l_returnflag, n_items, revenue
        |> ORDER BY l_returnflag
        """
    )


@register(
    "fn_string_collation",
    oracle="""
        WITH mixed AS (
            SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                        ELSE event_type END AS et
            FROM events
        )
        SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS n_raw,
               CAST(COUNT(DISTINCT lower(et)) AS BIGINT) AS n_ci,
               MIN(et) AS min_raw
        FROM mixed
    """,
    tags=("H-string", "collation"),
)
def fn_string_collation(spark, sf_dir):
    """String COLLATION (Spark 4.0): comparison semantics as a TYPE
    property instead of scattered lower() calls.  The fixture upper-
    cases every even event's type so the corpus genuinely carries
    case variants; counting distinct values under ``COLLATE
    UTF8_LCASE`` must collapse them exactly as the oracle's
    lower()-normalized count does, while the raw count keeps them
    apart — both under one hash, so the collation comparator itself
    is what's checked (min_raw pins that the underlying strings are
    untouched by the collation annotation).

    100 TB posture: collation-aware grouping/joins hash the collation
    KEY, not the raw bytes, so case-insensitive joins stop paying a
    lower() projection on every row of a petabyte fact table — and,
    unlike the lower() idiom, the optimizer can still prune and push
    down on the original column."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH mixed AS (
            SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                        ELSE event_type END AS et
            FROM events
        )
        SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS n_raw,
               CAST(COUNT(DISTINCT et COLLATE UTF8_LCASE) AS BIGINT) AS n_ci,
               MIN(et) AS min_raw
        FROM mixed
        """
    )


@register(
    "join_lateral_api",
    oracle="""
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
    """,
    tags=("C-lateral", "API-spark4"),
)
def join_lateral_api(spark, sf_dir):
    """``DataFrame.lateralJoin`` (Spark 4.0) — the per-row-subquery
    join as a DataFrame API instead of SQL LATERAL text: top-2 orders
    per customer, the correlated-limit shape `subq_lateral_topk`
    declares through SQL.  The subquery references the outer side via
    ``F.col(...).outer()``; the oracle is the equivalent SQL LATERAL
    on DuckDB, with a full deterministic tie-break (price DESC, then
    key) so both engines pick identical rows.

    100 TB posture: Catalyst DECORRELATES the lateral subquery — the
    plan is a window-ranked join on the correlation key, not a
    per-outer-row re-execution, so it scales exactly like the window
    top-k (E2): one exchange on the key, group-limit below it.  The
    lateral API is sugar over the same plan the manual rewrite gets."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.lateralJoin(
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(2)
    ).select("c_custkey", "o_orderkey", "o_totalprice")


@register(
    "sql_scalar_function_ddl",
    oracle="""
        SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
                    WHEN o_totalprice >= 100000.0 THEN 'mid'
                    ELSE 'low' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY 1
    """,
    tags=("SQL-api", "ddl-function"),
)
def sql_scalar_function_ddl(spark, sf_dir):
    """SQL-BODY scalar functions (``CREATE FUNCTION ... RETURN
    <expr>``, Spark 4): business logic registered as catalog DDL in
    pure SQL — no Python at all — and invoked like a built-in.  This
    is the third function-registration door after DataFrame-side
    pandas UDFs (K1) and `spark.udf.register` (sql_udf_registered):
    the one SQL-only teams own end-to-end.  The oracle inlines the
    function body, so the DDL registration + dispatch path is what
    the hash checks.

    100 TB posture: SQL-body functions INLINE into the calling plan
    at analysis time — the banding CASE lands inside whole-stage
    codegen like hand-written SQL, with zero dispatch overhead and
    full pushdown/pruning; contrast with Python UDFs, which are
    opaque Arrow-stage boundaries."""
    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION order_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 300000.0 THEN 'high'
                    WHEN p >= 100000.0 THEN 'mid'
                    ELSE 'low' END
        """
    )
    return spark.sql(
        """
        SELECT order_band(o_totalprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY 1
        """
    )


@register(
    "agg_group_by_all",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
    tags=("SQL-api", "D-sugar"),
)
def agg_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` / ``ORDER BY ALL`` — the analyst-ergonomics
    sugar both this engine and the oracle engine support natively, so
    the SAME text runs on both: every non-aggregate select item
    becomes a grouping key, every output column an order key.  Under
    the hash this checks the expansion RULE (which columns the engine
    decides are grouping keys), not just the values.

    100 TB posture: parse-time expansion to an ordinary two-phase
    hash aggregate + sort — identical plan to the explicit spelling;
    no scale semantics of its own."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


#: the one SQL text both entry points compile; kept as a module constant
#: so the key, its DataFrame twin, and the reference-impl test all use
#: the identical string.
_PARITY_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


@register(
    "sql_text_samesemantics",
    oracle=_PARITY_SQL,
    tags=("SQL-api", "plan-parity"),
)
def sql_text_samesemantics(spark, sf_dir):
    """SURVEY §3.2's parity promise, asserted UNDER the hash: the same
    query submitted as ANSI SQL text and built with the DataFrame API
    must compile to one canonical plan.  ``sameSemantics`` is Spark's
    own canonicalized-plan equality check — if the two entry points
    ever diverge (an API change, a view-resolution difference), this
    key raises instead of returning, turning a silent plan split into
    a red correctness row.  The returned frame is the SQL-text side;
    the oracle runs the identical text on DuckDB.

    100 TB posture: identical to `sql_star_join_via_views` — there is
    no "SQL tax"; both doors reach the same Catalyst plan, which this
    key now proves per-run rather than assumes."""
    register_views(spark, sf_dir)
    sql_df = spark.sql(_PARITY_SQL)
    api_df = (
        spark.table("orders")
        .where("o_orderstatus = 'F'")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("COUNT(*) AS n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
                " AS total_price"
            ),
        )
    )
    if not sql_df.sameSemantics(api_df):
        raise AssertionError(
            "SQL-text and DataFrame plans diverged: sameSemantics is False "
            "for the parity census — the two entry points no longer compile "
            "to one canonical plan"
        )
    return sql_df
