"""Focused pins for the round-16 optimization-round internals.

Each test pins the EQUIVALENCE argument an optimization rests on (the
parity suite already covers end-to-end values):

- ``banded_threshold_stats`` (the order-statistic LOOKUP special case
  of ``banded_running``) returns exactly the rows the full-prefix form
  would have selected — including the duplicated-threshold shape the
  ``single`` corpus caught during the round (ten equidepth bins all
  targeting rank 1 must not share one window partition);
- the SQL-text vector builders (``dot``/``norm``/``cosine``/
  ``sq_dist``) evaluate bit-identically to a plain-Python left fold in
  the same operation order on the real embedding corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _ref_lookup(spark, rows, thresholds):
    """Reference: full banded_running prefix + filter — the pre-r16
    formulation the lookup must reproduce."""
    from etl_builder_spark.operators.stats import banded_running

    df = spark.createDataFrame(rows, "v double, cnt bigint")
    run = banded_running(df, value_col="v", tiebreak_col="v", sum_col="cnt")
    out = {}
    for lbl, k in thresholds:
        hit = run.where(F.col("run_sum") >= k).agg(
            F.min("v").alias("v_at"),
            F.min(F.when(F.col("run_sum") >= k, F.col("run_sum"))).alias("run_at"),
        )
        r = hit.collect()[0]
        out[lbl] = (r["v_at"], r["run_at"])
    return out


def _new_lookup(spark, rows, thresholds):
    from etl_builder_spark.operators.stats import banded_threshold_stats

    df = spark.createDataFrame(rows, "v double, cnt bigint")
    th = spark.createDataFrame(
        [(lbl, k) for lbl, k in thresholds], "lbl string, k bigint"
    )
    got = banded_threshold_stats(df, value_col="v", sum_col="cnt", thresholds=th)
    out = {lbl: (None, None) for lbl, _ in thresholds}
    for r in got.collect():
        out[r["lbl"]] = (r["v_at"], r["run_at"])
    return out


def test_threshold_lookup_matches_full_prefix(spark):
    rows = [(float(v), int(c)) for v, c in
            [(1.5, 2), (2.0, 1), (3.25, 4), (10.0, 1), (11.0, 3), (400.0, 2)]]
    # total = 13; thresholds probe band starts, interiors and the end
    ths = [("a", 1), ("b", 2), ("c", 3), ("d", 7), ("e", 8), ("f", 13)]
    assert _new_lookup(spark, rows, ths) == _ref_lookup(spark, rows, ths)


def test_threshold_lookup_duplicate_k_separate_labels(spark):
    """The `single`-shape catch of r16: labels sharing one k value must
    each see the UNDUPLICATED prefix (the window partitions by every
    threshold-identifying column, not just k)."""
    rows = [(5.0, 1)]
    ths = [(f"bin{i}", 1) for i in range(10)]
    got = _new_lookup(spark, rows, ths)
    assert got == {f"bin{i}": (5.0, 1) for i in range(10)}


def test_threshold_lookup_no_crossing_and_empty(spark):
    rows = [(1.0, 2), (2.0, 2)]
    got = _new_lookup(spark, rows, [("in", 4), ("out", 5)])
    assert got == {"in": (2.0, 4), "out": (None, None)}
    got_empty = _new_lookup(spark, [], [("any", 1)])
    assert got_empty == {"any": (None, None)}


def test_sql_text_twins_bit_identical(spark):
    """The SQL-text vector builders (``dot``/``norm``/``cosine``/
    ``sq_dist``) evaluate bit-identically to a plain-Python left fold
    in the same operation order on the real corpus (zero tolerance):
    aggregate() folds from 0.0 left to right, so Spark and Python round
    the same IEEE doubles at the same steps."""
    import math

    from etl_builder_spark.llm.similarity import _dbl, cosine, dot, norm, sq_dist
    from etl_builder_spark.session import load_table

    def fold(a, b, term):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + term(x, y)
        return acc

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", _dbl().alias("v")
    )
    probes = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    rows = (
        F.broadcast(probes)
        .join(e, F.col("vec_id") != F.col("probe_id"))
        .select(
            "pv",
            "v",
            F.expr(dot("pv", "v")).alias("dot"),
            F.expr(norm("v")).alias("norm"),
            F.expr(cosine("pv", "v")).alias("cos"),
            F.expr(sq_dist("pv", "v")).alias("d2"),
        )
        .collect()
    )
    assert len(rows) > 100
    for r in rows:
        d = fold(r.pv, r.v, lambda x, y: x * y)
        n_p = math.sqrt(fold(r.pv, r.pv, lambda x, y: x * y))
        n_v = math.sqrt(fold(r.v, r.v, lambda x, y: x * y))
        assert r.dot == d
        assert r.norm == n_v
        assert r.cos == d / (n_p * n_v)
        assert r.d2 == fold(r.pv, r.v, lambda x, y: (x - y) * (x - y))


def test_winsorized_windows_share_one_exchange(spark):
    """r16 session-2: agg_winsorized_mean's three windows (rank, count,
    boundary max) must share ONE partitioning — the r15 form
    partitioned the boundary window by the alias `flag` while the rank
    window used `l_returnflag`, and Catalyst inserted a second
    Exchange + full Sort of every row.  Pin: exactly one Exchange and
    one Sort in the whole plan (the final 5-row aggregate rides the
    window partitioning)."""
    import contextlib
    import io
    import re

    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["agg_winsorized_mean"].fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    n_sort = len(re.findall(r"^\(\d+\) Sort", plan, re.MULTILINE))
    assert n_exchange == 1, plan
    assert n_sort == 1, plan
