"""Partitioned layouts + dynamic partition pruning (SURVEY.md §4.1).

The 100 TB scan discipline has two halves:

* STATIC pruning — a literal predicate on the partition column prunes
  directories at plan time (the IVF index, llm/ivf.py, already
  demonstrates this with PartitionFilters).
* DYNAMIC pruning (DPP) — the partition values to keep are only known
  at runtime (they come from the filtered side of a join), so Catalyst
  injects a dynamicpruning subquery into the fact scan: the dim side
  is evaluated first (reusing its broadcast), and only the surviving
  partitions of the fact are read at all.  On a date-partitioned
  100 TB fact table this is the difference between scanning 7 years
  and scanning one quarter.

Single-file corpus parquet can't show either, so this module stages a
month-partitioned copy of ``orders`` (written through the normal writer
path, ``partitionBy("o_month")``, and rebuilt when ``orders`` changes —
see sources/staging.py) and runs the star-schema probe against it.
Values are partitioning-invariant, so the DuckDB oracle reads the
original single-file table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_builder_spark.policy import money_sum
from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table
from etl_builder_spark.sources.staging import MARKER, empty_stage, staged


def staged_orders_by_month(spark: SparkSession, sf_dir: str) -> str:
    """orders as a ``o_month=yyyy-MM``-partitioned parquet layout (~80
    directories), staged per corpus and rebuilt when ``orders`` changes."""

    def _build(stage):
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
            .write.mode("overwrite")
            .partitionBy("o_month")
            .parquet(stage)
        )

    return staged("etl_builder_spark_dpp", sf_dir, os.path.join(sf_dir, "orders.parquet"), _build)


def read_orders_month_stage(spark: SparkSession, sf_dir: str):
    """Read the month-partitioned orders stage with an EXPLICIT schema
    (round-12 degenerate sweep): an empty corpus writes a layout with
    zero part files and zero partition dirs, where schema inference
    fails (UNABLE_TO_INFER_SCHEMA) — the defined result of scanning an
    empty layout is an empty frame.  Declaring the schema also skips
    the inference listing, which is the right call on any corpus."""
    stage = staged_orders_by_month(spark, sf_dir)
    schema = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        .schema
    )
    return spark.read.schema(schema).parquet(stage)


@register(
    "scan_dpp_partitioned",
    oracle="""
        WITH fact AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS o_month, o_totalprice
            FROM orders
        ),
        dim AS (
            SELECT DISTINCT o_month FROM fact
            WHERE CAST(substr(o_month, 6, 2) AS INT) <= 3
        )
        SELECT f.o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM fact f JOIN dim d ON f.o_month = d.o_month
        GROUP BY f.o_month
    """,
    tags=("A-dpp",),
)
def scan_dpp_partitioned(spark, sf_dir):
    """Q1-quarter probe against the month-partitioned orders layout:
    the month dim is filtered on a DERIVED attribute (first calendar
    quarter), so the partitions to keep are unknowable at plan time —
    Catalyst injects a dynamicpruning subquery into the fact scan's
    PartitionFilters (plan-asserted in tests/test_plans.py) and only
    ~3/12 of the directories are read.  Values are layout-invariant:
    the oracle computes the same result from the single-file table."""
    fact = read_orders_month_stage(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .distinct()
        .where(F.substring("o_month", 6, 2).cast("int") <= 3)
    )
    return (
        fact.join(F.broadcast(dim), "o_month")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice", "sum_price"),
        )
    )


@register(
    "etl_dynamic_partition_overwrite",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
        FROM orders
        GROUP BY 1
    """,
    tags=("A-dpo",),
)
def etl_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — THE idempotent incremental-batch
    write pattern: with ``partitionOverwriteMode=dynamic``, an INSERT
    OVERWRITE replaces only the partitions present in the incoming
    batch and leaves every other partition untouched, so re-running a
    failed daily job can never clobber history.

    The key proves the semantics end-to-end: (1) write the month-
    partitioned monthly rollup, (2) OVERWRITE one month with
    deliberately WRONG numbers (doubled totals), (3) re-run that
    month's correct slice — the dynamic overwrite must replace exactly
    the corrupted partition and nothing else, after which the read-back
    equals the plain batch oracle over all months.  With STATIC
    overwrite mode, step 3 would have DELETED every other month — the
    failure this conf exists to prevent.

    100 TB posture: this is how every date-partitioned fact table is
    maintained — per-partition replacement keyed by the batch's own
    partition values, no read-modify-write of the table, no distributed
    transaction; the blast radius of a re-run is exactly the partitions
    in the batch.  (Transactional formats layer snapshots on top; the
    dynamic-overwrite contract is the format-agnostic floor.)"""
    from etl_builder_spark.policy import money

    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("month_total"),
        )
    )
    sink = empty_stage("etl_builder_spark_dpo", sf_dir)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        cols = ["n_orders", "month_total", "o_month"]  # partition col last
        monthly.select(*cols).write.mode("overwrite").partitionBy("o_month").parquet(sink)
        target = monthly.select(F.min("o_month")).first()[0]
        corrupt = (
            monthly.where(F.col("o_month") == target)
            .select(
                "n_orders",
                (F.col("month_total") * 2).alias("month_total"),
                "o_month",
            )
        )
        corrupt.write.mode("overwrite").partitionBy("o_month").parquet(sink)
        repair = monthly.where(F.col("o_month") == target).select(*cols)
        repair.write.mode("overwrite").partitionBy("o_month").parquet(sink)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    # explicit schema (round-12 degenerate sweep): an empty corpus
    # writes zero partitions and schema inference would fail — the
    # defined read-back of an empty layout is an empty frame
    return (
        spark.read.schema("n_orders bigint, month_total double, o_month string")
        .parquet(sink)
        .select("o_month", "n_orders", "month_total")
    )


def staged_fragmented_events(spark: SparkSession, sf_dir: str, n_files: int = 64) -> str:
    """events deliberately shattered into ``n_files`` tiny parquet
    files (round-robin repartition — no semantic layout), staged per
    corpus and rebuilt when ``events`` changes.  Models the small-file
    problem a streaming or per-task-commit ingest leaves behind."""

    def _build(stage):
        load_table(spark, sf_dir, "events").repartition(n_files).write.mode(
            "overwrite"
        ).parquet(stage)

    return staged(
        "etl_builder_spark_smallfiles", sf_dir, os.path.join(sf_dir, "events.parquet"), _build
    )


@register(
    "etl_small_file_compaction",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value, props
        FROM events
    """,
    tags=("A-compaction",),
)
def etl_small_file_compaction(spark, sf_dir):
    """Small-file compaction — the table-maintenance operation every
    long-lived ingest needs: read a layout shattered into tiny files
    (here a staged 64-file copy of ``events``) and rewrite it as few
    large files (repartition(4)), preserving values exactly.  The
    declared result is the READ-BACK of the compacted layout, so the
    oracle (the original single-file table) proves compaction is a
    pure re-layout: hash equality IS the no-data-loss check.

    100 TB posture: small files are a primary real-world scan killer —
    per-file open/footer costs and task-per-file scheduling swamp the
    I/O (64 files here; a year of 5-minute micro-batches is ~100k).
    Compaction is one shuffle-free-read → repartition(N) → write whose
    N is sized from bytes/target-file-size (~1 GB parquet at scale;
    partition-wise compaction keyed by the layout's partition columns
    bounds each job's blast radius, and maxRecordsPerFile caps
    stragglers).  tests/test_sources.py asserts the file-count drop
    and byte-level parquet validity of the compacted layout."""
    frag_dir = staged_fragmented_events(spark, sf_dir)

    # The compacted layout is itself a stage, derived from the
    # fragmented one: it is rebuilt when that stage's marker changes,
    # and swapped in whole, so no reader sees a half-written sink.
    def _build(stage):
        spark.read.parquet(frag_dir).repartition(4).write.mode("overwrite").parquet(stage)

    sink = staged(
        "etl_builder_spark_compacted", sf_dir, os.path.join(frag_dir, MARKER), _build
    )
    return spark.read.parquet(sink).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "scan_glob_paths",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE year(o_orderdate) = 1995
        GROUP BY 1
    """,
    tags=("A-glob",),
)
def scan_glob_paths(spark, sf_dir):
    """Path-glob scanning: read ONLY the 1995 partition directories of
    the month-partitioned layout via the glob ``o_month=1995-*`` —
    directory-name pruning that happens at FILE LISTING time, before
    any footer is opened (static partition pruning's blunter cousin,
    and the idiom backfills and external orchestrators actually use:
    "process s3://…/date=2024-01-*").  ``basePath`` keeps the
    partition column alive in the schema even though the glob starts
    below it.  Values are layout-invariant — the oracle filters the
    plain table by year.

    100 TB posture: listing-time pruning touches only the matched
    directories' metadata — on an object store with millions of
    files, the listing itself is the cost a glob avoids; prefer
    partition-filter predicates (A4b) for query-shaped pruning and
    globs for job-shaped slicing."""
    import glob as _glob

    stage = staged_orders_by_month(spark, sf_dir)
    from etl_builder_spark.policy import money

    # zero-match globs are a LISTING ERROR by Spark's contract
    # (PATH_NOT_FOUND), but the defined result of slicing partitions
    # that don't exist is an empty summary (round-12 degenerate
    # sweep) — probe the glob first, exactly like the orchestrator
    # issuing this job would
    if not _glob.glob(os.path.join(stage, "o_month=1995-*")):
        return spark.createDataFrame(
            [], "o_month string, n_orders bigint, sum_price double"
        )
    df = (
        spark.read.option("basePath", stage)
        .parquet(os.path.join(stage, "o_month=1995-*"))
    )
    return df.groupBy("o_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
    )


def staged_daily_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Materialized daily summary of events — (day, type, count, exact
    DECIMAL value sum) — staged per corpus and rebuilt when ``events``
    changes.  The summary table an aggregate-navigator routes to."""
    from etl_builder_spark.policy import money

    def _build(stage):
        (
            load_table(spark, sf_dir, "events")
            .groupBy(
                F.date_trunc("day", "ts").cast("date").alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(money("value")).alias("value_sum"),  # exact DECIMAL partial
            )
            .write.mode("overwrite")
            .parquet(stage)
        )

    return staged("etl_builder_spark_rollup", sf_dir, os.path.join(sf_dir, "events.parquet"), _build)


@register(
    "etl_rollup_reaggregation",
    oracle="""
        SELECT strftime(ts, '%Y-%m') AS month, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("A-rollup-reagg",),
)
def etl_rollup_reaggregation(spark, sf_dir):
    """Summary-table routing (the materialized-view / aggregate-
    navigator pattern): the MONTHLY report is answered from the
    staged DAILY rollup — re-aggregating partial counts and exact
    DECIMAL partial sums — while the oracle computes the same report
    from the raw events.  Hash equality is the algebraic-correctness
    proof that the rollup's partials COMPOSE: counts add, decimal
    sums add order-free, and the average is reconstructed from
    composed sums (never averaged averages — the classic summary-
    table bug).

    100 TB posture: this is the central OLAP economy — the daily
    rollup is ~10⁵× smaller than the event stream, every dashboard
    period-query re-aggregates it instead of the raw data, and it
    maintains incrementally (each new day appends one partition;
    etl_dynamic_partition_overwrite is the repair path).  Only
    ALGEBRAIC aggregates route this way (sum/count/min/max and
    anything derived from them); exact percentiles need the raw data
    or mergeable sketches (D13)."""
    daily = spark.read.parquet(staged_daily_rollup(spark, sf_dir))
    return (
        daily.groupBy(
            F.date_format("day", "yyyy-MM").alias("month"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("value_sum").cast("double").alias("total_value"),
            (F.sum("value_sum").cast("double") / F.sum("n")).alias("avg_value"),
        )
    )


def _zorder_bits_sql() -> str:
    """8-bit × 8-bit Morton interleave as plain integer arithmetic —
    generated once, shared textually with the Spark expression."""
    terms = []
    for i in range(8):
        terms.append(f"((q1 >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((q2 >> {i}) & 1) * {1 << (2 * i)}")
    return " + ".join(terms)


@register(
    "etl_zorder_interleave",
    oracle=f"""
        WITH rng AS (
            SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
                   MIN(CAST(o_orderdate AS DATE)) AS dmin,
                   MAX(CAST(o_orderdate AS DATE)) AS dmax
            FROM orders
        ),
        q AS (
            SELECT o_orderkey,
                   CAST(LEAST(((o_custkey - cmin) * 256)
                              // (cmax - cmin + 1), 255) AS BIGINT) AS q1,
                   CAST(LEAST((datediff('day', dmin, CAST(o_orderdate AS DATE)) * 256)
                              // (datediff('day', dmin, dmax) + 1), 255) AS BIGINT)
                       AS q2
            FROM orders CROSS JOIN rng
        )
        SELECT o_orderkey, q1 AS q_cust, q2 AS q_date,
               CAST({_zorder_bits_sql()} AS BIGINT) AS zval
        FROM q
    """,
    tags=("A-zorder",),
)
def etl_zorder_interleave(spark, sf_dir):
    """Z-order (Morton) clustering key over (customer, order date):
    range-quantize each dimension to 8 bits off a broadcast 1-row
    min/max, then bit-interleave — the multi-dimensional data-layout
    technique behind Delta/Iceberg OPTIMIZE ZORDER: sorting by zval
    makes parquet row-group min/max ranges tight in BOTH dimensions at
    once, so 2-D box predicates prune files that a single-column sort
    order must read (demonstrated with real footer statistics in
    tests/test_sources.py::test_zorder_layout_prunes_2d_boxes).

    Determinism: quantization is pure BIGINT arithmetic (integer DIV —
    Spark ``div`` ≡ DuckDB ``//`` floor for the non-negative operands
    here, the r6 fn_try_arithmetic discipline) and the interleave is
    the same generated shift/mask expression in both engines.

    100 TB posture: the key is an expression-only projection — the
    actual layout job is ``repartitionByRange(zval).sortWithinPartitions
    (zval).write``, one range shuffle exactly like any sort-write; no
    UDF, no driver; widening to 3+ dimensions or 16-bit depth only
    lengthens the codegen expression."""
    o = load_table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_custkey").alias("cmin"),
        F.max("o_custkey").alias("cmax"),
        F.min(F.col("o_orderdate").cast("date")).alias("dmin"),
        F.max(F.col("o_orderdate").cast("date")).alias("dmax"),
    )
    q1 = F.least(
        F.expr("(o_custkey - cmin) * 256 div (cmax - cmin + 1)"), F.lit(255)
    ).cast("bigint")
    q2 = F.least(
        F.expr(
            "datediff(cast(o_orderdate as date), dmin) * 256"
            " div (datediff(dmax, dmin) + 1)"
        ),
        F.lit(255),
    ).cast("bigint")
    q = o.crossJoin(F.broadcast(rng)).select(
        "o_orderkey", q1.alias("q1"), q2.alias("q2")
    )
    return q.select(
        "o_orderkey",
        F.col("q1").alias("q_cust"),
        F.col("q2").alias("q_date"),
        F.expr(_zorder_bits_sql()).cast("bigint").alias("zval"),
    )


@register(
    "etl_partition_skew_report",
    oracle="""
        WITH sizes AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT n_rows,
                   ROW_NUMBER() OVER (ORDER BY n_rows, o_month) AS i
            FROM sizes
        ),
        g AS (
            SELECT COUNT(*) AS np,
                   CAST(SUM(n_rows) AS BIGINT) AS total,
                   CAST(SUM(i * n_rows) AS BIGINT) AS iw,
                   CAST(MAX(n_rows) AS BIGINT) AS mx
            FROM ranked
        ),
        med AS (
            SELECT ROUND(quantile_cont(CAST(n_rows AS DOUBLE), 0.5), 6) AS md
            FROM sizes
        )
        SELECT CAST(g.np AS BIGINT) AS n_partitions,
               g.total AS total_rows,
               g.mx AS max_partition_rows,
               ROUND(CAST(g.mx AS DOUBLE) / med.md, 6) AS max_over_median,
               ROUND(2.0 * CAST(g.iw AS DOUBLE) / (g.np * CAST(g.total AS DOUBLE))
                     - (g.np + 1.0) / g.np, 6) AS size_gini
        FROM g CROSS JOIN med
    """,
    tags=("A-skewreport",),
)
def etl_partition_skew_report(spark, sf_dir):
    """Partition-layout skew report for the month-partitioned orders
    layout: partition count, total rows, the largest partition, its
    ratio to the median, and the Gini of partition sizes — the
    table-maintenance health check that decides when a layout needs
    re-bucketing/compaction (a size_gini drifting up means straggler
    partitions; max_over_median is the classic skew alarm).  Values
    are layout-invariant (sizes come from the partition COLUMN), so
    the oracle computes the same census from the plain table.

    100 TB posture: one hash aggregation to the partition-cardinality
    frame, then the Gini's rank-weighted sum over that |partitions|-
    sized frame (the agg_gini_revenue shape — banded_running swap
    applies verbatim if a layout ever has millions of partitions,
    which is itself the problem this report exists to catch)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    sizes = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .persist()
    )
    w = Window.orderBy("n_rows", "o_month")
    ranked = sizes.select("n_rows", F.row_number().over(w).alias("i"))
    g = ranked.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("n_rows").cast("bigint").alias("total"),
        F.sum(F.col("i") * F.col("n_rows")).cast("bigint").alias("iw"),
        F.max("n_rows").cast("bigint").alias("mx"),
    )
    med = sizes.agg(
        F.round(F.percentile(F.col("n_rows").cast("double"), F.lit(0.5)), 6).alias("md")
    )
    npd = F.col("np").cast("double")
    return g.crossJoin(F.broadcast(med)).select(
        F.col("np").cast("bigint").alias("n_partitions"),
        F.col("total").alias("total_rows"),
        F.col("mx").alias("max_partition_rows"),
        F.round(F.col("mx").cast("double") / F.col("md"), 6).alias("max_over_median"),
        F.round(
            F.lit(2.0) * F.col("iw").cast("double") / (npd * F.col("total").cast("double"))
            - (npd + F.lit(1.0)) / npd,
            6,
        ).alias("size_gini"),
    )


#: candidate sort keys for the compression planner: name -> (band
#: expression [contiguous coarse prefix of the order], order columns)
RUN_CANDIDATES = (
    ("shipdate", "date_trunc('month', l_shipdate)", ("l_shipdate",)),
    ("partkey", "l_partkey // 1000", ("l_partkey",)),
    ("flag_status", "l_returnflag", ("l_returnflag", "l_linestatus")),
)
#: measured columns whose post-sort run counts drive the decision
RUN_MEASURED = (
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    ("l_partkey", "CAST(l_partkey AS VARCHAR)"),
    # NaN pin (round 13) spelled inline because this snippet feeds BOTH
    # engines verbatim (F.expr on the Spark side, the oracle builder
    # below): Spark's ANSI NaN→BIGINT cast errors where the pinned
    # semantics is NULL; identical text on both sides, identity on
    # NaN-free corpora.
    (
        "l_quantity",
        "CAST(CAST((CASE WHEN isnan(l_quantity) THEN NULL ELSE l_quantity END)"
        " AS BIGINT) AS VARCHAR)",
    ),
)


def _run_counts_oracle() -> str:
    parts = []
    for kname, _, ordcols in RUN_CANDIDATES:
        # (l_orderkey, l_linenumber) is NOT unique in the corpus, so the
        # tiebreak closes over every MEASURED column too: residual ties
        # then have identical measured values and the run count is
        # tie-order-invariant in both engines.
        # NULLS FIRST on every order column pins the engines' divergent
        # defaults, and IS DISTINCT FROM makes the run boundary
        # null-safe — a NULL run is a run (r12 nullmeasures sweep)
        order = ", ".join(
            f"{c} NULLS FIRST"
            for c in [
                *ordcols,
                "l_orderkey",
                "l_linenumber",
                "l_returnflag",
                "l_linestatus",
                "l_partkey",
                "l_quantity",
            ]
        )
        for mname, mexpr in RUN_MEASURED:
            parts.append(f"""
                SELECT '{kname}' AS sort_key, '{mname}' AS column_name,
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(SUM(CASE WHEN rn = 1 OR (prev IS DISTINCT FROM v)
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
                FROM (
                    SELECT {mexpr} AS v,
                           LAG({mexpr}) OVER (ORDER BY {order}) AS prev,
                           ROW_NUMBER() OVER (ORDER BY {order}) AS rn
                    FROM lineitem
                )""")
    return f"""
        SELECT sort_key, column_name, n_rows, n_runs,
               ROUND(CAST(n_rows AS DOUBLE) / n_runs, 6) AS avg_run_len
        FROM ({" UNION ALL ".join(parts)})
    """


@register(
    "etl_sort_key_run_counts",
    oracle=_run_counts_oracle(),
    tags=("ETL-layout",),
)
def etl_sort_key_run_counts(spark, sf_dir):
    """Sort-key compression planner: for each CANDIDATE sort order of
    the lake table, count the RLE runs every hot column would compress
    into — n_runs(column | order) is exactly the run count an
    RLE/dictionary parquet encoder sees after a re-sort, so the
    candidate with the longest average runs is the cheapest layout
    (the decision behind choosing Z-order vs linear sort keys;
    etl_zorder_interleave builds the multi-dim variant).

    Runs are counted WITHOUT an unpartitioned window: each candidate
    order gets a CONTIGUOUS coarse band (month / key-range / leading
    column); within-band boundaries come from one banded lag pass,
    and the band-to-band seams are reconciled by comparing each
    band's first row against the previous band's last row on a
    |bands|-row frame.  runs = within-band run starts + seam
    continuations corrected — exact integers, proven against the
    oracle's single-window global lag.

    100 TB posture: one parquet scan feeds all candidates (projected
    + persisted); each candidate costs one hash exchange on its band
    key and a within-band sort — the same shuffle the actual re-sort
    write would pay, so the planner is a dry run of the layout job
    itself."""
    from pyspark.sql import Window

    l = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_shipdate", "l_partkey", "l_returnflag", "l_linestatus",
            "l_quantity", "l_orderkey", "l_linenumber",
        )
        .persist()
    )
    measured = [(m, F.expr(e.replace("VARCHAR", "STRING"))) for m, e in RUN_MEASURED]
    out = None
    for kname, band_e, ordcols in RUN_CANDIDATES:
        # asc_nulls_first = Spark's asc default, written out because
        # the oracle must pin it explicitly (DuckDB defaults LAST);
        # the reverse scan uses desc_nulls_last — the exact mirror
        order_cols = [
            F.col(c)
            for c in [
                *ordcols,
                "l_orderkey",
                "l_linenumber",
                "l_returnflag",
                "l_linestatus",
                "l_partkey",
                "l_quantity",
            ]
        ]
        order = [c.asc_nulls_first() for c in order_cols]
        order_rev = [c.desc_nulls_last() for c in order_cols]
        base = l.select(
            F.expr(band_e.replace(" // ", " div ")).alias("band"),
            "l_shipdate", "l_partkey", "l_returnflag", "l_linestatus",
            "l_quantity", "l_orderkey", "l_linenumber",
            *[e.alias(f"m_{m}") for m, e in measured],
        )
        w = Window.partitionBy("band").orderBy(*order)
        prev = F.lag(F.struct(*[F.col(f"m_{m}") for m, _ in measured])).over(w)
        rn_a = F.row_number().over(w)
        rn_d = F.row_number().over(
            Window.partitionBy("band").orderBy(*order_rev)
        )
        tagged = base.select(
            "band",
            rn_a.alias("rn_a"),
            rn_d.alias("rn_d"),
            prev.alias("prev"),
            *[F.col(f"m_{m}") for m, _ in measured],
        ).persist()
        # null-safe boundary (r12 nullmeasures): a NULL run is a run —
        # != would skip boundaries into/out of NULL stretches
        within = tagged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            *[
                F.sum(
                    F.when(
                        F.col("prev").isNull()
                        | ~F.col(f"prev.m_{m}").eqNullSafe(F.col(f"m_{m}")),
                        1,
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"starts_{m}")
                for m, _ in measured
            ],
        )
        # band seams: first row of band b vs last row of band b-1 — a
        # run "start" counted above at each band head is NOT a global
        # start when the seam values match; subtract those.
        heads = tagged.where(F.col("rn_a") == 1).select(
            "band", *[F.col(f"m_{m}").alias(f"h_{m}") for m, _ in measured]
        )
        tails = tagged.where(F.col("rn_d") == 1).select(
            "band", *[F.col(f"m_{m}").alias(f"t_{m}") for m, _ in measured]
        )
        bw = Window.orderBy("band")
        # seam continuation is null-safe too, gated on a previous band
        # actually existing (lag of a marker, not of the value — a NULL
        # band tail must still count as a continuation of a NULL head)
        seams = (
            heads.join(tails, "band")
            .select(
                "band",
                *[F.col(f"h_{m}") for m, _ in measured],
                *[F.lag(f"t_{m}").over(bw).alias(f"pt_{m}") for m, _ in measured],
                F.lag(F.lit(1)).over(bw).alias("has_prev_band"),
            )
            .agg(
                *[
                    F.sum(
                        F.when(
                            F.col("has_prev_band").isNotNull()
                            & F.col(f"pt_{m}").eqNullSafe(F.col(f"h_{m}")),
                            1,
                        ).otherwise(0)
                    )
                    .cast("bigint")
                    .alias(f"cont_{m}")
                    for m, _ in measured
                ]
            )
        )
        joined = within.crossJoin(seams)
        for m, _ in measured:
            runs = F.col(f"starts_{m}") - F.col(f"cont_{m}")
            r = joined.select(
                F.lit(kname).alias("sort_key"),
                F.lit(m).alias("column_name"),
                F.col("n_rows"),
                runs.cast("bigint").alias("n_runs"),
                F.round(F.col("n_rows").cast("double") / runs, 6).alias("avg_run_len"),
            )
            out = r if out is None else out.unionAll(r)
    return out
