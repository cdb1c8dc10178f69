"""Output checking: the canonical form DuckDB oracle results are kept
in, and the comparison every timed result goes through."""

from __future__ import annotations

import duckdb

from selfcheck import pandas_canon


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name → parquet glob``."""
    con = duckdb.connect()
    for name, glob in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
    return con


def canon_rows(pdf) -> dict:
    """The canonical form results are compared in: columns sorted by
    name, rows sorted on raw values, every cell stringified."""
    c = pandas_canon(pdf)
    return {"columns": list(c.columns), "rows": c.values.tolist()}


def mismatch(got_pdf, expected: dict) -> str | None:
    """None when ``got_pdf`` equals the expected canonical result,
    else a one-line reason."""
    if sorted(got_pdf.columns) != expected["columns"]:
        return f"columns {sorted(got_pdf.columns)} != {expected['columns']}"
    if len(got_pdf) != len(expected["rows"]):
        return f"{len(got_pdf)} rows != {len(expected['rows'])}"
    got = canon_rows(got_pdf)["rows"]
    for i, (g, e) in enumerate(zip(got, expected["rows"])):
        if g != e:
            return f"row {i}: {g} != {e}"
    return None

