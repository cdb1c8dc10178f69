"""Round-11 operator tests: reference-implementation checks for the
new API-surface keys — a plain-Python recomputation pins each result
so cross-engine parity can't hide a shared wrong formula, plus
negative tests proving the parity assertions have teeth."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_apply_in_arrow_matches_python_census(spark):
    """The Arrow grouped-map census must equal the literal Python
    definition — per user: row count, integer-cents sum (round of
    value*100 computed in the SAME double arithmetic), max event_id."""
    rows = {
        r["user_id"]: (r["n_events"], r["value_cents"], r["max_event_id"])
        for r in REGISTRY["udf_apply_in_arrow"].fn(spark, SF_DIR).collect()
    }
    raw = duckdb.sql(
        f"SELECT user_id, event_id, value FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    want: dict[int, list] = {}
    for user_id, event_id, value in raw:
        n, cents, mx = want.get(user_id, (0, 0, -1))
        want[user_id] = (n + 1, cents + round(value * 100.0), max(mx, event_id))
    assert rows == want


def test_apply_in_arrow_plans_as_arrow_grouped_map(spark):
    """The grouped Arrow seam must plan as an Arrow-batched grouped map
    over one exchange on user_id — never row-pickled BatchEvalPython."""
    plan = (
        REGISTRY["udf_apply_in_arrow"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInArrow" in plan or "FlatMapGroupsIn" in plan


def test_transpose_region_census_matches_python(spark):
    """transpose's column-from-data naming and key-row synthesis,
    pinned against a literal Python census over the raw parquet."""
    out = REGISTRY["df_transpose_region_census"].fn(spark, SF_DIR)
    regions = [r[0] for r in duckdb.sql(
        f"SELECT r_name FROM read_parquet('{SF_DIR}/region.parquet') ORDER BY r_name"
    ).fetchall()]
    assert sorted(out.columns) == sorted(["key"] + regions)
    rows = {r["key"]: r.asDict() for r in out.collect()}
    assert set(rows) == {"n_customers", "n_nations"}
    census = duckdb.sql(f"""
        SELECT r_name,
               COUNT(c.c_custkey) AS n_customers,
               COUNT(DISTINCT n.n_nationkey) AS n_nations
        FROM read_parquet('{SF_DIR}/region.parquet') r
        LEFT JOIN read_parquet('{SF_DIR}/nation.parquet') n
               ON n.n_regionkey = r.r_regionkey
        LEFT JOIN read_parquet('{SF_DIR}/customer.parquet') c
               ON c.c_nationkey = n.n_nationkey
        GROUP BY r_name
    """).fetchall()
    for r_name, n_customers, n_nations in census:
        assert rows["n_customers"][r_name] == n_customers
        assert rows["n_nations"][r_name] == n_nations


def test_cogrouped_apply_in_arrow_matches_python(spark):
    """The cogrouped Arrow census — including one-sided keys, which
    exercise the empty-table contract — pinned against literal Python
    counts over the raw parquet."""
    rows = {
        r["user_id"]: (r["n_events"], r["n_orders"])
        for r in REGISTRY["udf_cogrouped_apply_in_arrow"].fn(spark, SF_DIR).collect()
    }
    ev = dict(duckdb.sql(
        f"SELECT user_id, count(*) FROM read_parquet('{SF_DIR}/events.parquet') GROUP BY user_id"
    ).fetchall())
    od = dict(duckdb.sql(
        f"SELECT o_custkey, count(*) FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY o_custkey"
    ).fetchall())
    want = {
        k: (ev.get(k, 0), od.get(k, 0)) for k in set(ev) | set(od)
    }
    assert rows == want
    # the cogroup genuinely exercises one-sided keys on this corpus
    assert any(v[0] == 0 for v in want.values()) or any(
        v[1] == 0 for v in want.values()
    ), "fixture has no one-sided key — the empty-side contract is untested"


def test_python_datasource_roundtrip_and_plan(spark):
    """The Python DataSource connector must deliver the documents
    table byte-for-value identically (no lost/duplicated shard rows),
    re-register idempotently, and plan as a Python BatchScan — never
    row-pickled BatchEvalPython."""
    out = REGISTRY["scan_python_datasource"].fn(spark, SF_DIR)
    got = [(r["doc_id"], r["lang"], r["n_chars"]) for r in out.collect()]
    want = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM read_parquet('{SF_DIR}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    assert got == want
    # second invocation in the same session: registration is idempotent
    again = REGISTRY["scan_python_datasource"].fn(spark, SF_DIR)
    assert again.count() == len(want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "etl_docs_pyds" in plan


def test_parameterized_sql_binds_as_typed_literals(spark):
    """The bound plan must be semantically identical to the literal
    plan (the docstring's parse-time-binding claim), and the census
    must match a literal DuckDB recount."""
    from etl_builder_spark.session import register_views

    import re

    out = REGISTRY["sql_parameterized_args"].fn(spark, SF_DIR)
    register_views(spark, SF_DIR)
    literal = spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MIN(o_orderkey) AS first_key
        FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
        GROUP BY o_orderpriority
        """
    )

    # the PHYSICAL plan is identical modulo expression/plan ids — the
    # binding leaves no runtime trace.  (sameSemantics is stricter: it
    # keeps bound-parameter nodes distinct in the canonicalized logical
    # plan, so it is deliberately not the assertion here.)
    def phys(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|plan_id=\d+", "#x", s)

    assert phys(out) == phys(literal)
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        duckdb.sql(
            f"SELECT o_orderpriority, count(*), min(o_orderkey) "
            f"FROM read_parquet('{SF_DIR}/orders.parquet') "
            f"WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0 "
            f"GROUP BY o_orderpriority"
        ).fetchall()
    )
    assert got == want


def test_pipe_syntax_compiles_to_classic_plan(spark):
    """The ``|>`` chain must compile to the identical physical plan as
    the nested-standard spelling (modulo expression ids) — pipe syntax
    is parse-time sugar, not a different execution path."""
    import re

    from etl_builder_spark.session import register_views

    out = REGISTRY["sql_pipe_syntax"].fn(spark, SF_DIR)
    register_views(spark, SF_DIR)
    classic = spark.sql(
        """
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
        """
    )

    def phys(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|plan_id=\d+", "#x", s)

    assert phys(out) == phys(classic)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, classic.collect()))


def test_collation_fixture_carries_case_variants(spark):
    """The collation census only tests the comparator if the fixture
    genuinely has case variants: n_raw must exceed n_ci, and both must
    match a literal Python recount."""
    row = REGISTRY["fn_string_collation"].fn(spark, SF_DIR).collect()[0]
    raw = duckdb.sql(
        f"SELECT event_id, event_type FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    mixed = [et.upper() if eid % 2 == 0 else et for eid, et in raw]
    assert row["n_raw"] == len(set(mixed))
    assert row["n_ci"] == len({s.lower() for s in mixed})
    assert row["n_raw"] > row["n_ci"], "fixture has no case variants"
    assert row["min_raw"] == min(mixed)


def test_lateral_join_decorrelates_to_window_rank(spark):
    """The lateral top-2 must match the manual window-rank rewrite
    value-for-value, and the decorrelated plan must carry no
    CartesianProduct (it is a keyed join, not per-row re-execution)."""
    from pyspark.sql import Window

    out = REGISTRY["join_lateral_api"].fn(spark, SF_DIR)
    got = sorted(map(tuple, out.collect()))
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    want = sorted(
        map(
            tuple,
            o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 2)
            .select(
                F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
            )
            .collect(),
        )
    )
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_sql_body_function_inlines_no_python_stage(spark):
    """A SQL-body function must inline into codegen — the plan may not
    contain any Python evaluation stage; values match the inlined CASE
    recount."""
    out = REGISTRY["sql_scalar_function_ddl"].fn(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # neither Batch- nor ArrowEvalPython
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        duckdb.sql(
            f"""SELECT CASE WHEN o_totalprice >= 300000.0 THEN 'high'
                            WHEN o_totalprice >= 100000.0 THEN 'mid'
                            ELSE 'low' END AS band, count(*)
                FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"""
        ).fetchall()
    )
    assert got == want


def test_group_by_all_expands_to_explicit_plan(spark):
    """GROUP BY ALL / ORDER BY ALL must compile to the identical
    physical plan as the explicit spelling (modulo expression ids)."""
    import re

    from etl_builder_spark.session import register_views

    out = REGISTRY["agg_group_by_all"].fn(spark, SF_DIR)
    register_views(spark, SF_DIR)
    explicit = spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderstatus, o_orderpriority, n_orders
        """
    )

    def phys(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|plan_id=\d+", "#x", s)

    assert phys(out) == phys(explicit)


def test_python_datasource_filter_genuinely_pushes_down(spark):
    """The `doc_id < 200` predicate must reach the READER at planning
    time (pushFilters runs in a separate planning worker, so the
    witness file is the observable), and the filtered values must
    match the oracle recount.  Without pushdown the connector would
    scan everything and filter in Spark — correct values, wrong scale
    posture — so the witness is the actual assertion."""
    import os

    from etl_builder_spark.sources.pydatasource import (
        PYDS_PUSHDOWN_MAX,
        _pushdown_witness_path,
    )

    w = _pushdown_witness_path(os.path.join(SF_DIR, "documents.parquet"))
    if os.path.exists(w):
        os.remove(w)
    out = REGISTRY["scan_python_datasource_pushdown"].fn(spark, SF_DIR)
    got = [(r["doc_id"], r["lang"], r["n_chars"]) for r in out.collect()]
    assert os.path.exists(w), "pushFilters never received the predicate"
    assert open(w).read() == f"doc_id<{PYDS_PUSHDOWN_MAX}"
    want = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM read_parquet('{SF_DIR}/documents.parquet') "
        f"WHERE doc_id < {PYDS_PUSHDOWN_MAX} ORDER BY doc_id"
    ).fetchall()
    assert got == want


def test_xml_source_roundtrip_matches_elementtree(spark):
    """Spark's XML parse of the staged corpus must agree row-for-row
    with Python's own ElementTree parse of the same file (attribute
    id, element fields), and the census must match a literal recount
    over the raw parquet frame."""
    import os
    import xml.etree.ElementTree as ET

    from etl_builder_spark.sources.xml_source import XML_DOC_MAX, _staged_xml

    stage = _staged_xml(SF_DIR)
    tree = ET.parse(os.path.join(stage, "docs.xml"))
    et_rows = sorted(
        (int(doc.get("id")), doc.find("lang").text, int(doc.find("n_chars").text))
        for doc in tree.getroot()
    )
    spark_rows = sorted(
        map(
            tuple,
            spark.read.format("xml")
            .option("rowTag", "doc")
            .schema("_id BIGINT, lang STRING, n_chars BIGINT")
            .load(stage)
            .collect(),
        )
    )
    assert spark_rows == et_rows
    want = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM read_parquet('{SF_DIR}/documents.parquet') "
        f"WHERE doc_id < {XML_DOC_MAX} ORDER BY doc_id"
    ).fetchall()
    assert et_rows == sorted(want)
    # and the declared census equals the key's oracle shape
    census = {
        r["lang"]: (r["n_docs"], r["total_chars"], r["max_doc_id"])
        for r in REGISTRY["scan_xml_source"].fn(spark, SF_DIR).collect()
    }
    from collections import defaultdict

    py = defaultdict(lambda: [0, 0, -1])
    for doc_id, lang, n_chars in want:
        py[lang][0] += 1
        py[lang][1] += n_chars
        py[lang][2] = max(py[lang][2], doc_id)
    assert census == {k: tuple(v) for k, v in py.items()}


def test_staging_digest_keys_and_clear_first(tmp_path, monkeypatch):
    """ADVICE r10 closure, asserted directly: (1) two corpora with the
    SAME basename under different parents stage to DIFFERENT
    directories; (2) restaging after the source changes CLEARS stale
    files instead of leaving them for unfiltered directory scans."""
    import os
    import tempfile
    import time

    from etl_builder_spark.sources.staging import stage_path, staged

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    a = tmp_path / "parent_a" / "sf0.01"
    b = tmp_path / "parent_b" / "sf0.01"
    for d in (a, b):
        d.mkdir(parents=True)
        (d / "src.bin").write_text("v1")
    pa_, pb = stage_path("t_fam", str(a)), stage_path("t_fam", str(b))
    assert pa_ != pb, "same-basename corpora collided"

    writes = []

    def build_one(stage):
        writes.append(stage)
        with open(os.path.join(stage, "stale_leftover.bin"), "w") as f:
            f.write("old")

    src = str(a / "src.bin")
    s1 = staged("t_fam", str(a), src, build_one)
    assert os.path.exists(os.path.join(s1, "stale_leftover.bin"))
    # marker fresh → no rebuild
    staged("t_fam", str(a), src, build_one)
    assert len(writes) == 1
    # source touched → rebuild must CLEAR the old contents first
    time.sleep(0.01)
    os.utime(src)

    def build_two(stage):
        writes.append(stage)
        with open(os.path.join(stage, "fresh.bin"), "w") as f:
            f.write("new")

    s2 = staged("t_fam", str(a), src, build_two)
    assert s2 == s1 and len(writes) == 2
    assert not os.path.exists(os.path.join(s2, "stale_leftover.bin")), (
        "stale file survived a restage"
    )
    assert os.path.exists(os.path.join(s2, "fresh.bin"))
    # atomic-swap hygiene (ADVICE r11): no scratch (.build-) or trash
    # (.old-) siblings left behind after the rebuild, and the marker
    # landed with the swap.
    debris = [
        d for d in os.listdir(os.path.dirname(s2)) if ".build-" in d or ".old-" in d
    ]
    assert debris == [], f"stray staging scratch/trash dirs: {debris}"
    assert os.path.exists(os.path.join(s2, "_staged"))
    # a source rewritten with its mtime set back to BEFORE the marker
    # (a restored backup, an ``rsync -t`` copy) is still a new version
    built = os.stat(src).st_mtime_ns
    (a / "src.bin").write_text("v2")
    os.utime(src, ns=(built - 10**9, built - 10**9))
    assert os.path.getmtime(src) < os.path.getmtime(os.path.join(s2, "_staged"))
    s3 = staged("t_fam", str(a), src, build_one)
    assert s3 == s1 and len(writes) == 3, "an older-mtime source did not rebuild"
    assert os.path.exists(os.path.join(s3, "stale_leftover.bin"))


def test_samesemantics_key_raises_on_divergent_plan(spark):
    """The parity key's sameSemantics guard must have teeth: a twin
    with a genuinely different predicate must NOT be same-semantics,
    and the key itself must run green (assertion passes)."""
    from etl_builder_spark.operators.api_surfaces import _PARITY_SQL
    from etl_builder_spark.session import register_views

    # the key runs without raising — SQL text ≡ DataFrame twin
    out = REGISTRY["sql_text_samesemantics"].fn(spark, SF_DIR)
    assert out.count() > 0

    register_views(spark, SF_DIR)
    sql_df = spark.sql(_PARITY_SQL)
    divergent = (
        spark.table("orders")
        .where("o_orderstatus = 'O'")  # different predicate
        .groupBy("o_orderpriority")
        .agg(
            F.expr("COUNT(*) AS n_orders"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
                " AS total_price"
            ),
        )
    )
    assert not sql_df.sameSemantics(divergent)
