"""``session.round_barrier`` cuts a fixpoint loop's lineage: after any
number of rounds the next round plans against one materialized leaf,
never the rounds before it, and the rows are those of the uncut loop."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.session import round_barrier

ROUNDS = 6
N = 50


def _pointer_doubling(spark, barrier):
    """(k, v) with v = k + 2**ROUNDS mod N: each round self-joins the
    successor frame on a.v = b.k, doubling the hop length — and, without
    a cut, doubling the number of leaves in the plan."""
    cur = spark.range(N).select(F.col("id").alias("k"), ((F.col("id") + 1) % N).alias("v"))
    for _ in range(ROUNDS):
        a, b = cur.alias("a"), cur.alias("b")
        cur = barrier(
            a.join(b, F.col("a.v") == F.col("b.k")).select(
                F.col("a.k").alias("k"), F.col("b.v").alias("v")
            )
        )
    return cur


def test_round_barrier_leaves_one_logical_rdd_leaf(spark):
    out = _pointer_doubling(spark, round_barrier)
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()  # noqa: SLF001
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert names == ["LogicalRDD"], names

    uncut = _pointer_doubling(spark, lambda df: df)
    assert sorted(out.collect()) == sorted(uncut.collect())
    assert sorted(out.collect()) == [(k, (k + 2**ROUNDS) % N) for k in range(N)]
