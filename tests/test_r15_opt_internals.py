"""Focused pins for the round-15 optimization-round internals.

Each test pins the EQUIVALENCE argument an optimization rests on, not
just the end-to-end value (the parity suite already covers those):

- the bounded-levenshtein contract (`_lev_pinned(..., threshold=2)`):
  exact distance in 0..2, -1 above the bound, NULL for non-ASCII —
  and the gate translations (`d <= 2` ⇔ `d >= 0`, CLOSE tier `d > 0`)
  agree with the unbounded form on every class of operand;
- the two-stage trigram shingling: the Generate reads the token ARRAY
  COLUMN instead of re-inlining filter(split(lower(text))) per
  element_at (the round's biggest per-task-work fix), and the rows
  are identical to the inlined form.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_builder_spark.operators.fuzzy import _lev_pinned


def _pairs(spark):
    rows = [
        ("abc", "abc"),        # d=0
        ("abc", "abd"),        # d=1
        ("abcdef", "abdcef"),  # d=2 (transposition = 2 edits)
        ("kitten", "sitting"), # d=3 -> bounded -1
        ("x", "xyzw"),         # d=3 via length gap -> bounded -1
        ("café", "cafe"),      # non-ASCII -> NULL both forms
        ("", ""),              # d=0 empty
        ("", "ab"),            # d=2
        ("", "abc"),           # d=3 -> bounded -1
    ]
    return spark.createDataFrame(rows, "a string, b string")


def test_bounded_lev_contract(spark):
    df = _pairs(spark).select(
        _lev_pinned(F.col("a"), F.col("b")).alias("full"),
        _lev_pinned(F.col("a"), F.col("b"), threshold=2).alias("capped"),
    )
    for r in df.collect():
        if r.full is None:
            # non-ASCII: both forms pin to NULL
            assert r.capped is None
        elif r.full <= 2:
            # inside the bound the banded DP is exact
            assert r.capped == r.full
        else:
            # above the bound the sentinel is -1, never a distance
            assert r.capped == -1


def test_bounded_lev_gate_translations(spark):
    """`d <= 2` on the unbounded form ⇔ `d >= 0` on the bounded form,
    and the CLOSE tier (`0 < d <= 2`) ⇔ `d > 0` — including the NULL
    (non-ASCII) rows, which must fail every gate on both forms."""
    df = _pairs(spark).select(
        (_lev_pinned(F.col("a"), F.col("b")) <= 2).alias("le2_full"),
        (_lev_pinned(F.col("a"), F.col("b"), threshold=2) >= 0).alias("le2_capped"),
        (
            (_lev_pinned(F.col("a"), F.col("b")) > 0)
            & (_lev_pinned(F.col("a"), F.col("b")) <= 2)
        ).alias("close_full"),
        (_lev_pinned(F.col("a"), F.col("b"), threshold=2) > 0).alias("close_capped"),
    )
    for r in df.collect():
        # three-valued logic collapses to the same TRUE set: coalesce
        # NULL -> False the way every WHEN/WHERE consumer does
        assert bool(r.le2_full) == bool(r.le2_capped)
        assert bool(r.close_full) == bool(r.close_capped)


def test_trigram_generate_reads_column_not_inlined_split(spark):
    """The shingle Generate must take the token array from a COLUMN:
    the inlined form re-ran filter(split(lower(text))) once per
    trigram per element_at (measured 10x on the shingle pass).  Pin:
    at most 2 split( occurrences survive in the whole physical plan
    (scan-side filter + the one projection), and the value rows are
    identical to the reference inlined form."""
    from etl_builder_spark.llm.sparse_sim import shingle_tf

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, None), (4, "p q r")],
        "doc_id long, text string",
    )
    tf = shingle_tf(d)
    try:
        plan = tf._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(") <= 2, plan
        # reference: the pre-r15 inlined expression form
        t = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
        tri = F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
            ),
        )
        ref = (
            d.where(F.size(t) >= 3)
            .select("doc_id", F.explode(tri).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        assert sorted(map(tuple, tf.collect())) == sorted(map(tuple, ref.collect()))
    finally:
        tf.unpersist()


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _outer_shuffle_partitionings(df) -> list[str]:
    """Output partitionings of every shuffle exchange in the OUTER
    executed plan, NOT descending into InMemoryTableScan leaves: the
    cached build plan's exchanges were paid once at materialization
    and formatted/simple plan STRINGS inline that whole subtree, which
    made the previous substring pins vacuous (r16 fix of ADVICE r15 —
    the formatted text never contains 'Exchange hashpartitioning(' at
    all, so 'not in plan' asserted nothing).  Walking the JVM node
    tree and stopping at the cache leaf tests the real claim: the
    per-round operators READING the cache add no exchange of their
    own."""

    out: list[str] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "InMemoryTableScanExec":
            return
        if cls == "ShuffleExchangeExec":
            out.append(node.outputPartitioning().toString())
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return out


def test_pagerank_iteration_reuses_dst_partitioned_cache(spark):
    """The graph-state cache is hash-partitioned by dst, so once the
    cache is materialized every PageRank round's groupBy("dst")
    aggregate runs WITHOUT its own exchange (guide §2.4: N_ITER
    shuffles of the edge frame collapse into the one paid at cache
    build).  Pin: the outer plan holds ZERO hash-keyed shuffles of any
    name — its only exchanges are the SinglePartition reductions of
    the 1-row rank aggregates — so the pin survives column renames
    (ADVICE r15)."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    df = REGISTRY["graph_pagerank_fixed"].fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()  # materialize the cache
    df2 = REGISTRY["graph_pagerank_fixed"].fn(spark, sf)
    assert "InMemoryTableScan" in _formatted(df2)  # cache substituted
    parts = _outer_shuffle_partitionings(df2)
    hashed = [p for p in parts if p.startswith("hashpartitioning")]
    assert hashed == [], parts


def test_label_propagation_sym_side_never_reshuffles(spark):
    """sym is cached hash-partitioned by v (the per-round join key):
    with the cache materialized, no round's join re-exchanges the edge
    side.  Pin: exactly TWO hash-keyed shuffles remain in the outer
    plan (the final label aggregate and the degree side) — a
    reintroduced per-round edge exchange would add one per iteration
    (3 rounds → ≥4), so the count pin is name-free (ADVICE r15)."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    df = REGISTRY["graph_label_propagation"].fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    df2 = REGISTRY["graph_label_propagation"].fn(spark, sf)
    assert "InMemoryTableScan" in _formatted(df2)
    parts = _outer_shuffle_partitionings(df2)
    hashed = [p for p in parts if p.startswith("hashpartitioning")]
    assert len(hashed) <= 2, parts


def test_hits_p_rounds_reuse_cache_partitioning(spark):
    """The bipartite edge cache is hash-partitioned by p: every
    p-keyed aggregate READING THE CACHE DIRECTLY (a1, the degree
    count) runs fused — partial+final HashAggregate with no exchange
    between them and the InMemoryTableScan.  (a2 still exchanges when
    the planner broadcasts the edge cache into the h1 join and
    streams the o-partitioned aggregate instead — a size-based choice
    this pin deliberately leaves free.)"""
    import re

    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    df = REGISTRY["graph_hits_hubs_authorities"].fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    plan = _formatted(REGISTRY["graph_hits_hubs_authorities"].fn(spark, sf))
    assert "InMemoryTableScan" in plan
    fused = re.findall(
        r"HashAggregate \(\d+\)\s*\n\s*[:+ ]*\+- HashAggregate \(\d+\)\s*\n"
        r"\s*[:+ ]*\+- Filter \(\d+\)\s*\n\s*[:+ ]*\+- InMemoryTableScan",
        plan,
    )
    assert len(fused) >= 1, plan


def test_kmeans_assignment_carries_vector_no_rejoin(spark):
    """assign(carry_v=True) threads v through the argmin struct —
    cid is unique per vec_id so min(struct(d9, cid)) and
    min(struct(d9, cid, v)) pick the same row — and the centroid
    recompute no longer re-joins assignments to vectors: the plan
    has NO shuffle join anywhere (broadcast crossJoins only)."""
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    plan = _formatted(
        REGISTRY["ml_kmeans_lloyd_exact"].fn(spark, "/root/testdata/sf0.001")
    )
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_hoisted_norm_cosine_bit_identical(spark):
    """dot(a,b)/(norm(a)*norm(b)) with each norm hoisted to a per-row
    column before the join must be BIT-identical to a plain-Python
    cosine fold in the same operation order — the hoist moves the same
    fold out of the pair loop without changing a single float op — on
    the real embedding corpus."""
    import math

    from etl_builder_spark.llm.similarity import _dbl, dot, norm
    from etl_builder_spark.session import load_table

    def py_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", _dbl().alias("v")
    )
    probes = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.expr(norm("v")).alias("npv"),
    )
    rows = (
        F.broadcast(probes)
        .join(
            e.select("vec_id", "v", F.expr(norm("v")).alias("nv")),
            F.col("vec_id") != F.col("probe_id"),
        )
        .select("pv", "v", F.expr(f"{dot('pv', 'v')} / (npv * nv)").alias("cos"))
        .collect()
    )
    assert len(rows) > 100
    for r in rows:
        expect = py_dot(r.pv, r.v) / (
            math.sqrt(py_dot(r.pv, r.pv)) * math.sqrt(py_dot(r.v, r.v))
        )
        assert r.cos == expect
