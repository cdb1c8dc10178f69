"""Sources & sinks (SURVEY §2 A3/A4): CSV/JSON round-trips with
explicit schemas, partitioned/sorted parquet writes, bucketed tables."""

from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from etl_builder_spark.session import TABLES, load_table
from etl_builder_spark.sources import readers, writers
from selfcheck import check_query_parity
from tests.conftest import SF_DIR
from tests.test_cache import _halve_in_place

_ensure_loaded()


def test_csv_roundtrip(spark, tmp_path):
    n = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_csv")
    writers.write_csv(n, path)
    back = readers.read_csv(spark, path, n.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_json_roundtrip(spark, tmp_path):
    r = load_table(spark, SF_DIR, "region")
    path = str(tmp_path / "region_json")
    writers.write_json(r, path)
    back = readers.read_json(spark, path, r.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, r.collect()))


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders").withColumn("status", F.col("o_orderstatus"))
    path = str(tmp_path / "orders_part")
    writers.write_parquet_partitioned(o, path, partition_by=("status",))
    import os

    assert sorted(d for d in os.listdir(path) if d.startswith("status=")) == [
        "status=F",
        "status=O",
        "status=P",
    ]
    back = readers.read_parquet(spark, path).where(F.col("status") == "O")
    # partition pruning: only the status=O directory is scanned
    assert back.count() == o.where(F.col("o_orderstatus") == "O").count()


def test_sorted_parquet_write(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_sorted")
    writers.write_parquet_sorted(o, path, sort_by=("o_orderdate",), n_files=4)
    back = readers.read_parquet(spark, path)
    assert back.count() == o.count()


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    import contextlib
    import io

    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored); drop them at the end.
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    writers.write_bucketed_table(o, "orders_b", ("o_custkey",), 8)
    writers.write_bucketed_table(c, "cust_b", ("c_custkey",), 8)
    # force the non-broadcast path so the bucketed SMJ is observable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(
            spark.table("cust_b"), F.col("o_custkey") == F.col("c_custkey")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        # co-bucketed join: sort-merge join with NO shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == o.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_text_reader(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = readers.read_text(spark, str(p))
    assert {r["value"] for r in df.collect()} == {"alpha", "beta", "gamma"}


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively."""
    n = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    n.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution: files written with/without a new column read
    together under mergeSchema with nulls for the missing column."""
    p = str(tmp_path / "evolving")
    r = load_table(spark, SF_DIR, "region")
    r.write.parquet(p + "/v1")
    r.withColumn("r_tier", F.col("r_regionkey") % 2).write.parquet(p + "/v2")
    both = spark.read.option("mergeSchema", "true").parquet(p + "/v1", p + "/v2")
    assert "r_tier" in both.columns
    assert both.count() == 10
    assert both.where(F.col("r_tier").isNull()).count() == 5


def test_dynamic_partition_overwrite_blast_radius(spark, tmp_path):
    """The contract the declared key relies on, asserted mid-flight:
    overwriting ONE partition in dynamic mode must leave every other
    partition byte-identical, while static mode would drop them."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(30)], "v int, part string"
    )
    sink = str(tmp_path / "dpo")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy("part").parquet(sink)
        before = sorted(map(tuple, spark.read.parquet(sink).collect()))
        # rewrite only p0 with new values
        repl = spark.createDataFrame([(100 + i, "p0") for i in range(5)], "v int, part string")
        repl.write.mode("overwrite").partitionBy("part").parquet(sink)
        after = {r["part"]: set() for r in spark.read.parquet(sink).select("part").distinct().collect()}
        for r in spark.read.parquet(sink).collect():
            after[r["part"]].add(r["v"])
        assert set(after) == {"p0", "p1", "p2"}  # p1/p2 survived
        assert after["p0"] == {100, 101, 102, 103, 104}  # p0 replaced, not appended
        assert after["p1"] == {v for v, p in [(i, f"p{i % 3}") for i in range(30)] if p == "p1"}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_small_file_compaction_reduces_file_count(spark):
    """Compaction must actually reduce the physical file count while
    the declared key's hash equality (t2 matrix) proves no data loss."""
    import glob
    import os

    from etl_builder_spark.sources.partitioned import staged_fragmented_events

    frag_dir = staged_fragmented_events(spark, SF_DIR)
    n_frag = len(glob.glob(os.path.join(frag_dir, "*.parquet")))
    assert n_frag >= 32, f"staging should shatter events into many files, got {n_frag}"

    from etl_builder_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY["etl_small_file_compaction"].fn(spark, SF_DIR)
    # the declared frame reads the compacted sink: its input files are few
    files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    assert 1 <= len(files) <= 4, f"compacted layout should be ≤4 files, got {len(files)}"


def test_zorder_layout_prunes_2d_boxes(spark, tmp_path):
    """etl_zorder_interleave's layout claim, proven with real parquet
    footer statistics: write orders 16-file range-sorted by (a) plain
    o_custkey and (b) the Morton zval, then count which files a
    predicate could touch based on each file's (min, max) column stats
    — exactly the pruning decision a reader makes.

    A custkey-sorted layout is perfect on its own dimension but
    useless on dates: a date-band predicate must open EVERY file.  The
    z-ordered layout keeps both dimensions' per-file ranges tight, so
    the date band prunes files the linear layout cannot."""
    import pyarrow.parquet as pq

    from etl_builder_spark.registry import REGISTRY, _ensure_loaded
    from tests.conftest import SF_DIR

    _ensure_loaded()
    z = REGISTRY["etl_zorder_interleave"].fn(spark, SF_DIR)
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    rows = o.join(z, "o_orderkey")

    layouts = {
        "linear": rows.repartitionByRange(16, "o_custkey").sortWithinPartitions(
            "o_custkey"
        ),
        "zorder": rows.repartitionByRange(16, "zval").sortWithinPartitions("zval"),
    }
    stats = {}
    for name, df in layouts.items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").parquet(path)
        per_file = []
        for f in sorted((tmp_path / name).glob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            cmin = cmax = dmin = dmax = None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    s = col.statistics
                    if s is None:
                        continue
                    if col.path_in_schema == "o_custkey":
                        cmin = s.min if cmin is None else min(cmin, s.min)
                        cmax = s.max if cmax is None else max(cmax, s.max)
                    elif col.path_in_schema == "o_orderdate":
                        dmin = s.min if dmin is None else min(dmin, s.min)
                        dmax = s.max if dmax is None else max(dmax, s.max)
            per_file.append((cmin, cmax, dmin, dmax))
        stats[name] = per_file
        assert len(per_file) == 16, (name, len(per_file))

    # date band: middle ~12% of the date range
    all_d = [d for pf in stats.values() for (_, _, dmin, dmax) in pf for d in (dmin, dmax)]
    lo, hi = min(all_d), max(all_d)
    span = hi - lo
    band_lo, band_hi = lo + span * 7 // 16, lo + span * 9 // 16

    def touched(per_file, band):
        blo, bhi = band
        return sum(1 for (_, _, dmin, dmax) in per_file if dmin <= bhi and dmax >= blo)

    linear_touched = touched(stats["linear"], (band_lo, band_hi))
    zorder_touched = touched(stats["zorder"], (band_lo, band_hi))
    # custkey-sorted files all span the full date range → no pruning
    assert linear_touched == 16, linear_touched
    # the z-layout must actually prune files on the non-sorted dimension
    assert zorder_touched < linear_touched, (zorder_touched, linear_touched)


#: (key, the corpus table its on-disk stage is derived from)
STAGED_KEYS = [
    ("scan_dpp_partitioned", "orders"),
    ("scan_glob_paths", "orders"),
    ("etl_small_file_compaction", "events"),
    ("etl_rollup_reaggregation", "events"),
    ("join_bucketed_colocated", "orders"),
    ("agg_bucketed_no_shuffle", "lineitem"),
]


@pytest.mark.parametrize("key, table", STAGED_KEYS)
def test_same_basename_corpora_never_share_stages(spark, tmp_path, monkeypatch, key, table):
    """Two corpora named ``sf`` under different parents, one with the
    key's input table halved: running the key on the first must not
    leave a stage that the second then reads — the second run must
    agree with DuckDB over its own files."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for d in (a, b):
        shutil.copytree(SF_DIR, d, copy_function=shutil.copyfile)
    _halve_in_place(b / f"{table}.parquet")
    spec = REGISTRY[key]
    spec.fn(spark, str(a)).collect()

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{b}/{t}.parquet')")
        status, detail, _ = check_query_parity(spark, con, key, spec, str(b))
    finally:
        con.close()
    assert status == "OK", f"{key} on b after a run on a: {status} — {detail}"


def test_sink_keys_leave_temp_dir_bounded(spark, tmp_path, monkeypatch):
    """Keys that write on every call reuse one emptied dir per key and
    corpus: a second pass adds nothing under the temp dir."""
    import glob

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    keys = ("stream_foreachbatch_sink", "stream_merge_upsert_live", "etl_dynamic_partition_overwrite")

    def run_pass():
        for k in keys:
            REGISTRY[k].fn(spark, SF_DIR).collect()
        root = tempfile.gettempdir()
        return sorted(
            os.path.relpath(p, root)
            for p in glob.glob(os.path.join(root, "*")) + glob.glob(os.path.join(root, "*", "*"))
        )

    first = run_pass()
    assert run_pass() == first
