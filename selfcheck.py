#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate (SURVEY.md §5.2).

Runs every declared query's PySpark implementation and its DuckDB
oracle side-by-side and compares row count, column names, and values.

Value comparison mode:

* ``parity`` (default) — replicates the DRIVER's canonicalization
  exactly, as reverse-engineered from CORRECTNESS_r01.json tracebacks:
  ``toPandas()`` / ``.df()`` → select columns sorted by name →
  ``sort_values`` on the RAW values (dtype-sensitive; crashes on
  list/map cells exactly like the driver) → ``astype(str)`` →
  element-wise equality.  This is dtype-sensitive: DuckDB HUGEINT
  materializing as float64 ("148.0") vs Spark int64 ("148") FAILS
  here, as it does in the driver.  Round-1 lesson: the legacy
  Python-value canon normalized exactly the differences the driver
  trips on, so six driver-red queries were locally green.

Usage:
    python selfcheck.py                       # sf0.01, parity mode
    python selfcheck.py --sf /root/testdata/sf0.001
    python selfcheck.py --only agg_pricing_summary,join_asof
"""

from __future__ import annotations

import argparse
import contextlib
import sys
import time

import duckdb
import pandas as pd

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from etl_builder_spark.session import TABLES, get_spark


def pandas_canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization, replicated: sort columns by name,
    sort rows on raw (dtype-sensitive) values, then stringify."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns) and len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns))
    return pdf.reset_index(drop=True).astype(str)


def check_query_parity(spark, con, name, spec, sf_dir) -> tuple[str, str, float]:
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir)
        spdf = sdf.toPandas()
    except Exception as e:  # noqa: BLE001
        return "SPARK-ERROR", f"{type(e).__name__}: {str(e)[:400]}", time.time() - t0
    if spec.oracle is None:
        # The driver canonicalizes rows-only outputs too (CORRECTNESS_r04:
        # embed_pq_codes crashed its pandas sort on an array<int> cell).
        # Run the same canon here so a canon-unsafe schema fails the gate
        # instead of slipping through to the driver.
        try:
            pandas_canon(spdf)
        except Exception as e:  # noqa: BLE001
            return "CANON-ERROR", f"{type(e).__name__}: {str(e)[:200]}", time.time() - t0
        return "ROWS-ONLY", f"{len(spdf)} rows", time.time() - t0
    try:
        opdf = con.execute(spec.oracle).df()
    except Exception as e:  # noqa: BLE001
        return "ORACLE-ERROR", f"{type(e).__name__}: {str(e)[:400]}", time.time() - t0
    status_prefix = ""
    if sorted(spdf.columns) != sorted(opdf.columns):
        # Discovery-based keys (QuerySpec.dynamic_schema): on a corpus
        # missing domain values the Spark column set is a strict SUBSET
        # of the static oracle's — project the oracle down and compare
        # values on the shared columns; anything else stays a mismatch.
        if getattr(spec, "dynamic_schema", False) and set(spdf.columns) < set(
            opdf.columns
        ):
            opdf = opdf[list(spdf.columns)]
            status_prefix = "DYNAMIC-SCHEMA-"
        else:
            return (
                "SCHEMA-MISMATCH",
                f"spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}",
                time.time() - t0,
            )
    if len(spdf) != len(opdf):
        return "COUNT-MISMATCH", f"spark={len(spdf)} oracle={len(opdf)}", time.time() - t0
    try:
        s = pandas_canon(spdf)
        o = pandas_canon(opdf)
    except Exception as e:  # noqa: BLE001
        # The driver's canonicalizer would crash identically (e.g.
        # "unhashable type: 'list'" on array/map columns) → harness err.
        return "CANON-ERROR", f"{type(e).__name__}: {str(e)[:200]}", time.time() - t0
    if not s.equals(o):
        n_diff = int((s != o).any(axis=1).sum())
        for col in s.columns:
            neq = s[col] != o[col]
            if neq.any():
                i = int(neq.idxmax())
                return (
                    "VALUE-MISMATCH",
                    f"{n_diff}/{len(s)} rows differ; first: col={col} "
                    f"spark={s[col][i]!r} oracle={o[col][i]!r}",
                    time.time() - t0,
                )
        return "VALUE-MISMATCH", f"{n_diff}/{len(s)} rows differ", time.time() - t0
    return f"{status_prefix}OK", f"{len(spdf)} rows", time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--json",
        default=None,
        help="write per-key results to this JSON file (committable evidence artifact)",
    )
    args = ap.parse_args()

    _ensure_loaded()
    specs = dict(REGISTRY)
    if args.only:
        keys = args.only.split(",")
        missing = [k for k in keys if k not in specs]
        if missing:
            print(f"unknown keys: {missing}")
            return 2
        specs = {k: specs[k] for k in keys}

    spark = get_spark("selfcheck")
    import os as _os

    def _connect():
        """Fresh DuckDB connection with a PINNED memory budget and a
        spill directory (VERDICT r13 item 3: the one ×10 red was a
        DuckDB out-of-memory under 3-way host contention — the default
        limit is a fraction of PHYSICAL RAM, which lies under
        contention).  A hard cap + temp_directory makes the oracle
        spill instead of dying, so ORACLE-ERROR means the SQL is wrong,
        not that the host was busy."""
        c = duckdb.connect()
        mem = _os.environ.get("SPARK_GRAFT_DUCKDB_MEM", "16GB")
        c.execute(f"SET memory_limit='{mem}'")
        # spill location is env-pinnable (VERDICT r14 item 3): the ×100
        # graph oracles exhausted /tmp while it also held the synthetic
        # corpora — point SPARK_GRAFT_DUCKDB_TMP at whichever volume
        # has headroom on the host
        spill = _os.environ.get("SPARK_GRAFT_DUCKDB_TMP", "/tmp/duckdb_spill")
        _os.makedirs(spill, exist_ok=True)
        c.execute(f"SET temp_directory='{spill}'")
        for t in TABLES:
            p = f"{args.sf}/{t}.parquet"
            # synthesized corpora are Spark-written DIRECTORIES of part
            # files — glob them for DuckDB (single-file corpora unchanged)
            if _os.path.isdir(p):
                p = f"{p}/*.parquet"
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = _connect()

    n_bad = 0
    results = {}
    for name, spec in specs.items():
        status, detail, dt = check_query_parity(spark, con, name, spec, args.sf)
        if status in ("ORACLE-ERROR", "SPARK-ERROR"):
            # retry ONCE: a transient host-state failure (OOM under
            # contention, spill-disk exhaustion — on EITHER engine: the
            # r15 ×100 sweep lost dedup_embedding_cosine to Spark's own
            # UnsafeExternalSorter hitting a transiently full /tmp) must
            # not burn a red into the artifact when the query itself is
            # fine; a genuine failure fails identically both times.
            # Clear the spill dir first — the dead connection's orphaned
            # temp files otherwise guarantee the retry hits the same
            # full disk (the r14 ×100 graph-oracle failure mode)
            con.close()
            spill = _os.environ.get("SPARK_GRAFT_DUCKDB_TMP", "/tmp/duckdb_spill")
            if _os.path.isdir(spill):
                import shutil as _shutil

                for fn in _os.listdir(spill):
                    with contextlib.suppress(OSError):
                        fp = _os.path.join(spill, fn)
                        _os.remove(fp) if _os.path.isfile(fp) else _shutil.rmtree(fp)
            con = _connect()
            status, detail, dt2 = check_query_parity(spark, con, name, spec, args.sf)
            dt += dt2
            if status in ("OK", "ROWS-ONLY", "DYNAMIC-SCHEMA-OK"):
                detail += " (retried once)"
        ok = status in ("OK", "ROWS-ONLY", "DYNAMIC-SCHEMA-OK")
        n_bad += 0 if ok else 1
        results[name] = {"status": status, "detail": detail, "secs": round(dt, 2)}
        print(f"{'✓' if ok else '✗'} {name:32s} {status:16s} {dt:6.2f}s  {detail}", flush=True)
    print(f"\n{len(specs) - n_bad}/{len(specs)} green")
    if args.json:
        import json as _json

        payload = {
            "sf_dir": args.sf,
            "n_green": len(specs) - n_bad,
            "n_total": len(specs),
            "results": results,
        }
        with open(args.json, "w") as fh:
            _json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {args.json}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
