"""Bucketed table layouts + co-located joins (SURVEY.md §4 cap → r4
declared key).

Partitioning prunes directories; BUCKETING pre-shuffles them: a table
written ``bucketBy(N, key)`` is physically hash-distributed into N
bucket files per partition, and the bucket spec is recorded in the
catalog.  A join of two tables bucketed the same way on the join key
needs NO exchange on either side — at 100 TB this converts the
nightly fact⋈fact reconciliation from two full shuffles into a
zero-shuffle sort-merge, the single biggest repeated-join saving
there is.  (The toy corpus sits under the broadcast threshold, so the
shuffle-free SMJ shape is pinned by the plan test with broadcast
disabled; values are identical either way.)

The corpus ships single parquet files, so this module stages bucketed
external tables (8 buckets on the order key) per corpus under the temp
dir (sources/staging.py decides where, and when a table's files are
stale); the bucket spec lives in the session catalog, so a session
that has not registered a table yet rewrites it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_builder_spark.policy import money
from etl_builder_spark.registry import register
from etl_builder_spark.session import file_version, load_table
from etl_builder_spark.sources.staging import is_current, mark_built, stage_path

N_BUCKETS = 8


def _staged_bucketed(
    spark: SparkSession, sf_dir: str, name: str, key: str, cols: tuple[str, ...]
) -> str:
    """``name`` projected to ``cols`` as an external table bucketed
    (and bucket-sorted) on ``key``; returns the catalog table name.
    The table and its files are named after the corpus's stage path,
    so same-basename corpora never share them.  ``staged()``'s swap
    cannot move a catalog table's files (``saveAsTable`` pins the
    path), so this rewrites in place under the same freshness check."""
    stage = stage_path(f"etl_builder_spark_bucketed_{name}", sf_dir)
    table = f"{name}_bkt_" + re.sub(r"\W", "_", os.path.basename(stage))
    version = file_version(os.path.join(sf_dir, f"{name}.parquet"))
    if not spark.catalog.tableExists(table) or not is_current(stage, version):
        (
            load_table(spark, sf_dir, name)
            .select(*cols)
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", stage)
            .format("parquet")
            .saveAsTable(table)
        )
        mark_built(stage, version)
    return table


def staged_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """lineitem and orders as external bucketed tables (8 buckets on
    the order key, bucket-sorted), registered in the session catalog.
    Returns (lineitem_table, orders_table) names.  A corpus table
    rewritten at the same path rewrites its bucketed copy: a catalog
    ``tableExists`` check alone would serve stale bucketed copies while
    the DuckDB oracle reads the fresh files (ADVICE r4)."""
    return (
        _staged_bucketed(
            spark, sf_dir, "lineitem", "l_orderkey",
            ("l_orderkey", "l_extendedprice", "l_discount"),
        ),
        _staged_bucketed(spark, sf_dir, "orders", "o_orderkey", ("o_orderkey", "o_orderdate")),
    )


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """,
    tags=("A-bucketed",),
)
def join_bucketed_colocated(spark, sf_dir):
    """Monthly revenue over the bucketed lineitem⋈orders join.  Both
    sides are bucketed 8-ways on the order key, so with broadcast out
    of the picture the sort-merge join reads bucket i against bucket i
    with NO exchange on either side (plan-asserted in
    tests/test_plans.py with the broadcast threshold disabled — at the
    toy SF Spark rightly prefers a broadcast join, and values are
    layout-invariant, as the single-file-table oracle proves)."""
    tl, to = staged_bucketed_tables(spark, sf_dir)
    l, o = spark.table(tl), spark.table(to)
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "agg_bucketed_no_shuffle",
    oracle="""
        SELECT l_orderkey,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        GROUP BY l_orderkey
    """,
    tags=("A-bucketed-agg",),
)
def agg_bucketed_no_shuffle(spark, sf_dir):
    """Aggregation WITHOUT a shuffle: grouping the bucketed lineitem
    table on its bucket key — the layout already hash-distributes
    rows by l_orderkey, so Catalyst recognizes the required
    distribution is satisfied and plans a single-phase HashAggregate
    with ZERO exchanges (plan-asserted in tests/test_plans.py, the
    aggregation twin of join_bucketed_colocated's exchange-free SMJ).

    100 TB posture: this is THE reason fact tables get bucketed by
    their natural aggregation/join key — every per-order rollup and
    every orderkey join skips its exchange forever, paid for by one
    shuffle at write time.  Values are layout-invariant, so the
    oracle aggregates the plain single-file table."""
    tl, _ = staged_bucketed_tables(spark, sf_dir)
    return (
        spark.table(tl)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(money("l_extendedprice")).cast("double").alias("total_price"),
            F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))
            .cast("double")
            .alias("total_revenue"),
        )
    )
