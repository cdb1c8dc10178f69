"""Engine facade: all five entry points compose the same catalog and
interoperate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_builder_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_DIR)


def test_table_and_sql_share_catalog(engine):
    n_df = engine.table("nation").count()
    n_sql = engine.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
    assert n_df == n_sql == 25


def test_pipeline_and_spec_agree(engine):
    flu = (
        engine.pipeline().scan("orders").filter("o_orderstatus = 'F'")
        .agg(by=["o_orderpriority"], n="count(*)").frame()
    )
    spec = engine.run_spec(
        {
            "source": "orders",
            "ops": [
                {"op": "filter", "expr": "o_orderstatus = 'F'"},
                {"op": "agg", "by": ["o_orderpriority"], "aggs": {"n": "count(*)"}},
            ],
        }
    )
    assert sorted(map(tuple, flu.collect())) == sorted(map(tuple, spec.collect()))


def test_sql_feeds_pipeline(engine):
    engine.sql("SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000")\
        .createOrReplaceTempView("big_orders")
    out = engine.pipeline().from_frame(engine.sql("SELECT * FROM big_orders"))\
        .agg(by=[], n="count(*)").frame()
    want = engine.table("orders").where(F.col("o_totalprice") > 400000).count()
    assert out.collect()[0]["n"] == want


def test_declared_query_surface(engine):
    df = engine.query("agg_pricing_summary")
    assert df.count() == 6


def test_unknown_table_fails_loudly(engine):
    with pytest.raises(KeyError, match="unknown table"):
        engine.table("nope")


def test_doc_counts_match_registry():
    """The count line in COVERAGE.md, SURVEY.md and README.md is
    single-sourced from the registry (VERDICT r6 item 4 — the documents
    drifted to three different numbers by round 6)."""
    import re
    from pathlib import Path

    from etl_builder_spark import registry

    registry._ensure_loaded()
    total = len(registry.REGISTRY)
    exact = sum(1 for s in registry.REGISTRY.values() if s.oracle is not None)
    rows_only = total - exact

    root = Path(__file__).resolve().parent.parent
    for doc in ("COVERAGE.md", "SURVEY.md", "README.md"):
        text = (root / doc).read_text()
        m = re.search(
            r"\*\*(\d+) declared queries: (\d+) exact, (\d+)\s+rows-only", text
        )
        assert m, f"{doc} count line missing"
        assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
            total,
            exact,
            rows_only,
        ), f"{doc} says {m.groups()}, registry has {(total, exact, rows_only)}"


def test_queries_listed_in_sorted_key_order():
    """queries() and oracle_sql() list the registry in sorted key order:
    deterministic, and independent of which module registered first."""
    from etl_builder_spark import registry

    keys = list(registry.queries())
    assert keys == sorted(registry.REGISTRY)
    exact = [k for k in keys if registry.REGISTRY[k].oracle is not None]
    assert list(registry.oracle_sql()) == exact


def test_every_registering_module_is_imported():
    """_ensure_loaded() imports every module the package walk finds: a
    module that calls @register but is never imported would silently
    drop its keys from queries().  Glob the package for `@register(`
    call sites and assert each module's keys actually made it into the
    loaded registry."""
    import re
    from pathlib import Path

    from etl_builder_spark import registry

    registry._ensure_loaded()
    pkg = Path(registry.__file__).resolve().parent
    name_pat = re.compile(r"@register\(\s*[\"']([A-Za-z0-9_]+)[\"']")
    missing = []
    for py in pkg.rglob("*.py"):
        text = py.read_text()
        if "@register(" not in text:
            continue
        keys = name_pat.findall(text)
        # every key this module declares must be present in REGISTRY —
        # which can only happen if _ensure_loaded imported the module
        for k in keys:
            if k not in registry.REGISTRY:
                missing.append((str(py.relative_to(pkg)), k))
    assert not missing, f"modules register keys never loaded: {missing}"


def test_spec_compiler_equals_fluent_on_random_op_chains(engine):
    """Fuzz the declarative spec compiler: random filter/derive/agg/
    sort chains must produce byte-identical results to the same chain
    built through the fluent API — the two entry points are one
    surface, not two engines."""
    import random

    from etl_builder_spark.plans.pipeline import Pipeline, compile_spec

    rng = random.Random(42)
    filters = ["o_totalprice > 50000", "o_orderstatus = 'F'", "o_custkey % 3 = 0"]
    derives = [
        {"bucket": "o_orderkey % 7"},
        {"half_price": "o_totalprice / 2"},
    ]
    for trial in range(6):
        ops = []
        for _ in range(rng.randint(1, 3)):
            kind = rng.choice(["filter", "derive"])
            if kind == "filter":
                ops.append({"op": "filter", "expr": rng.choice(filters)})
            else:
                ops.append({"op": "derive", "cols": rng.choice(derives)})
        ops.append(
            {"op": "agg", "by": ["o_orderstatus"], "aggs": {"n": "count(*)"}}
        )
        ops.append({"op": "sort", "by": ["n desc", "o_orderstatus"], "limit": 5})
        spec = {"source": "orders", "ops": ops}

        via_spec = compile_spec(engine.spark, engine.sf_dir, spec).collect()

        p = Pipeline(engine.spark, engine.sf_dir).scan("orders")
        for op in ops:
            if op["op"] == "filter":
                p = p.filter(op["expr"])
            elif op["op"] == "derive":
                p = p.derive(**op["cols"])
            elif op["op"] == "agg":
                p = p.agg(by=op["by"], **op["aggs"])
            elif op["op"] == "sort":
                p = p.sort(*op["by"])
                if op.get("limit"):
                    p = p.limit(op["limit"])
        via_fluent = p.frame().collect()
        assert [tuple(r) for r in via_spec] == [tuple(r) for r in via_fluent], spec


def test_pipeline_cleaning_and_reshaping_ops(engine):
    """Round-7 spec ops: rename/fillna/dropna/dedup/explode/sample/
    pivot/unpivot/union — each spec form must equal the equivalent
    plain-DataFrame derivation."""
    from pyspark.sql import functions as F

    from etl_builder_spark.plans.pipeline import compile_spec

    spark, sf = engine.spark, engine.sf_dir
    o = engine.table("orders")

    got = compile_spec(spark, sf, {
        "source": "orders",
        "ops": [
            {"op": "rename", "cols": {"status": "o_orderstatus"}},
            {"op": "dedup", "subset": ["status", "o_orderpriority"]},
            {"op": "select", "cols": ["status", "o_orderpriority"]},
            {"op": "sort", "by": ["status", "o_orderpriority"]},
        ],
    }).collect()
    want = (
        o.withColumnRenamed("o_orderstatus", "status")
        .dropDuplicates(["status", "o_orderpriority"])
        .select("status", "o_orderpriority")
        .orderBy("status", "o_orderpriority")
        .collect()
    )
    assert got == want

    got = compile_spec(spark, sf, {
        "source": "orders",
        "ops": [
            {"op": "sample", "key": "o_orderkey", "fraction": 0.2},
            {"op": "agg", "aggs": {"n": "count(*)"}},
        ],
    }).first()["n"]
    from etl_builder_spark.llm.sampling import hash_sample

    assert got == hash_sample(o, "o_orderkey", 0.2).count()
    assert 0 < got < o.count()

    got = compile_spec(spark, sf, {
        "source": "orders",
        "ops": [
            {"op": "pivot", "by": "o_orderpriority", "pivot": "o_orderstatus",
             "values": ["F", "O", "P"], "aggs": {"n": "count(*)"}},
            {"op": "fillna", "value": 0},
            {"op": "sort", "by": ["o_orderpriority"]},
        ],
    }).collect()
    want = (
        o.groupBy("o_orderpriority").pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n")).fillna(0).orderBy("o_orderpriority").collect()
    )
    assert got == want

    long = compile_spec(spark, sf, {
        "source": "orders",
        "ops": [
            {"op": "derive", "cols": {"ck": "cast(o_custkey as double)"}},
            {"op": "select", "cols": ["o_orderkey", "o_totalprice", "ck"]},
            {"op": "unpivot", "ids": ["o_orderkey"],
             "cols": ["o_totalprice", "ck"],
             "var_name": "metric", "value_name": "v"},
        ],
    })
    assert long.count() == o.count() * 2
    assert set(long.columns) == {"o_orderkey", "metric", "v"}


def test_pipeline_asof_spec_op(engine):
    """The custom as-of operator through the declarative surface must
    equal calling operators/asof.py directly."""
    from pyspark.sql import functions as F

    from etl_builder_spark.operators.asof import asof_join
    from etl_builder_spark.plans.pipeline import Pipeline

    e = engine.table("events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("cid"))
    )
    via_pipeline = (
        Pipeline(engine.spark, engine.sf_dir)
        .from_frame(purchases)
        .asof(clicks, "user_id", right_cols=("cid",))
        .frame()
        .orderBy("pid")
        .collect()
    )
    direct = (
        asof_join(purchases, clicks, "user_id", right_cols=("cid",))
        .orderBy("pid")
        .collect()
    )
    assert via_pipeline == direct and len(direct) > 0


def test_derived_partsupp_invariants(spark):
    """The derived partsupp (operators/tpch_partsupp.py) must behave
    like a real TPC-H partsupp: exactly 4 DISTINCT suppliers per part,
    every suppkey a real supplier, availqty in [1, 9999], supply-cost
    cents in [100, 100000] — and be bit-stable across two builds."""
    from pyspark.sql import functions as F

    from etl_builder_spark.operators.tpch_partsupp import derived_partsupp
    from etl_builder_spark.session import load_table

    ps = derived_partsupp(spark, SF_DIR).cache()
    n_part = load_table(spark, SF_DIR, "part").count()
    assert ps.count() == 4 * n_part
    per_part = ps.groupBy("ps_partkey").agg(
        F.count_distinct("ps_suppkey").alias("k")
    )
    assert per_part.where(F.col("k") != 4).count() == 0
    supp = load_table(spark, SF_DIR, "supplier").select("s_suppkey")
    orphans = ps.join(supp, ps.ps_suppkey == supp.s_suppkey, "left_anti")
    assert orphans.count() == 0
    bad = ps.where(
        ~F.col("ps_availqty").between(1, 9999)
        | ~F.col("ps_supplycost_cents").between(100, 100000)
    )
    assert bad.count() == 0
    again = derived_partsupp(spark, SF_DIR)
    assert ps.exceptAll(again).count() == 0 and again.exceptAll(ps).count() == 0
    ps.unpersist()


def test_table_fingerprint_detects_single_row_change(spark):
    """dq_table_fingerprint's reason to exist: the same rows in any
    order fingerprint identically; one changed cell moves it."""
    from pyspark.sql import functions as F

    from etl_builder_spark.quality import dq_table_fingerprint
    from etl_builder_spark.session import load_table

    base = dq_table_fingerprint(spark, SF_DIR).first()

    o = load_table(spark, SF_DIR, "orders")
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

    # shuffled row order -> identical fingerprint
    shuffled = (
        o.repartition(7)
        .agg(F.sum(h32.cast("decimal(38,0)")).cast("string").alias("fp"))
        .first()["fp"]
    )
    assert shuffled == base["fingerprint"]

    # one mutated cell -> different fingerprint
    mutated = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 0.01).otherwise(
            F.col("o_totalprice")
        ),
    )
    row_m = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)"),
        F.col("o_orderdate").cast("date"),
        F.col("o_orderpriority"),
    )
    h32_m = F.conv(F.substring(F.md5(row_m), 1, 8), 16, 10).cast("long")
    fp_m = mutated.agg(
        F.sum(h32_m.cast("decimal(38,0)")).cast("string").alias("fp")
    ).first()["fp"]
    assert fp_m != base["fingerprint"]
