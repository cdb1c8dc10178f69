"""Input preparation for one benchmark run.

    python3 perfbench/prepare.py --workload olap_interactive --seed 1 --out DIR

Generates the seeded corpus into ``DIR/data`` and writes
``DIR/expected.json``: the canonical DuckDB oracle result of every
registry key and ingest step of the workload, the input rows each key
reads, and how long generation and the oracles took.  ``run.py`` runs
this as a child process before it starts the engine, so neither the
generator's nor DuckDB's memory counts in the measured peak.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen
from check import canon_rows, connect
from workloads import INGEST_ORACLES, N_DOCS, N_VECS, SF, WORKLOADS, oracle_tables, table_rows


def prepare(workload, seed: int, out: str) -> dict:
    from etl_builder_spark.registry import REGISTRY, _ensure_loaded
    from etl_builder_spark.session import TABLES

    _ensure_loaded()
    t0 = time.perf_counter()
    data = gen.corpus(os.path.join(out, "data"), seed, SF, N_DOCS, N_VECS, workload.copies, workload.stream_files)
    t1 = time.perf_counter()
    sql = {k: REGISTRY[k].oracle for k in workload.keys}
    views = {t: os.path.join(data, f"{t}.parquet") for t in TABLES}
    if workload.stream_files:
        sql.update(INGEST_ORACLES)
        views["events_stream"] = os.path.join(data, "events_stream", "*.parquet")
    con = connect(views)
    try:
        expected = {k: canon_rows(con.execute(q).df()) for k, q in sql.items()}
    finally:
        con.close()
    rows_in = {
        k: sum(table_rows(data, t) for t in oracle_tables(REGISTRY[k].oracle, TABLES)) for k in workload.keys
    }
    return {
        "expected": expected,
        "rows_in": rows_in,
        "gen_s": round(t1 - t0, 4),
        "oracle_s": round(time.perf_counter() - t1, 4),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    prep = prepare(WORKLOADS[args.workload], args.seed, args.out)
    with open(os.path.join(args.out, "expected.json"), "w") as fh:
        json.dump(prep, fh)


if __name__ == "__main__":
    main()
