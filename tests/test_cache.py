"""Spark's cache is the engine's one data cache across ops.

Persisted frames are matched by Spark on file PATH, not file version,
so ``session.load_table`` refreshes Spark's cache for a path whenever
it sees a new version of that file.  These tests rewrite an input
table in place between two runs of a key and hold the second run to
its DuckDB oracle over the rewritten corpus; and they check that a
key's persisted frames are cached again after ``clearCache()``.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as papq
import pytest

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from etl_builder_spark.session import TABLES
from selfcheck import check_query_parity
from tests.conftest import SF_DIR

_ensure_loaded()


def _halve_in_place(path) -> None:
    """Rewrite the parquet file at ``path`` with its first half of rows."""
    t = papq.read_table(path)
    before = os.stat(path).st_mtime_ns
    papq.write_table(t.slice(0, t.num_rows // 2), path)
    # the rewrite must be visible as a new file version even on
    # filesystems with coarse timestamps
    if os.stat(path).st_mtime_ns == before:
        os.utime(path, ns=(before + 1_000_000_000, before + 1_000_000_000))


@pytest.mark.parametrize(
    "key, table",
    [
        ("text_tfidf_sql", "documents"),
        ("graph_degree_distribution", "orders"),
        ("seq_markov_stationary", "events"),
    ],
)
def test_rewritten_input_matches_oracle(spark, tmp_path, key, table):
    """A key run once, then run again after its input table was
    rewritten at the same path, must agree with DuckDB over the new
    file — no frame persisted over the old version may leak through."""
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf, copy_function=shutil.copyfile)
    sf_dir = str(sf)
    spec = REGISTRY[key]
    spec.fn(spark, sf_dir).collect()

    _halve_in_place(sf / f"{table}.parquet")

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        status, detail, _ = check_query_parity(spark, con, key, spec, sf_dir)
    finally:
        con.close()
    assert status == "OK", f"{key} after {table} rewrite: {status} — {detail}"


def test_markov_state_is_cached_again_after_clear_cache(spark):
    """After ``clearCache()`` (perfbench's cold mode and the plan-hash
    audit both run it) the next call must persist its frames again,
    so its plan reads them through InMemoryTableScan."""
    spec = REGISTRY["seq_markov_stationary"]
    spec.fn(spark, SF_DIR).collect()
    spark.catalog.clearCache()
    df = spec.fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "InMemoryTableScan" in plan, plan
