"""The t2 matrix: every declared query vs its DuckDB oracle at sf0.001.

Runs the DRIVER-PARITY compare (pandas canonicalization — dtype-
sensitive, crashes on unserialized complex columns exactly like the
driver's harness) so that every declared query is gated on the same
check the driver grades with at sf0.01.
"""

from __future__ import annotations

import pytest

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from selfcheck import check_query_parity
from tests.conftest import SF_DIR

_ensure_loaded()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, oracle, name):
    spec = REGISTRY[name]
    status, detail, _ = check_query_parity(spark, oracle, name, spec, SF_DIR)
    assert status in ("OK", "ROWS-ONLY"), f"{name}: {status} — {detail}"


def test_percentile_approx_within_rank_error(spark):
    """agg_percentile_approx (rows-only, GK sketch) must land within
    the sketch's rank-error bound of the EXACT interpolated percentile
    — the accuracy contract of the documented D10 scale swap.  With
    accuracy=10000 the rank error is ≤ 1e-4, far below one rank at
    fixture scale, so the estimate must be between the exact
    neighboring order statistics; we assert a loose value envelope
    derived from the exact p50/p90 ± the value-gap of 1% of ranks."""
    from pyspark.sql import functions as F

    approx = {
        r["o_orderpriority"]: (r["p50_approx"], r["p90_approx"])
        for r in REGISTRY["agg_percentile_approx"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r["o_orderpriority"]: (r["p50"], r["p90"])
        for r in REGISTRY["agg_percentile"].fn(spark, SF_DIR).collect()
    }
    # envelope: exact quantiles at q ± 0.01 bound the estimate loosely
    from etl_builder_spark.session import load_table

    o = load_table(spark, SF_DIR, "orders")
    env = {
        r["o_orderpriority"]: r["qs"]
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.expr(
                "percentile(o_totalprice, array(0.49, 0.51, 0.89, 0.91))"
            ).alias("qs")
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for k, (a50, a90) in approx.items():
        lo50, hi50, lo90, hi90 = env[k]
        assert lo50 <= a50 <= hi50, (k, a50, lo50, hi50)
        assert lo90 <= a90 <= hi90, (k, a90, lo90, hi90)
