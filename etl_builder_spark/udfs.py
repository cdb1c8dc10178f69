"""K. Python UDF surface (SURVEY.md §2 K1-K3).

UDFs are the slow path — everything else in this engine is JVM-side.
When Python is genuinely needed (model scoring, custom feature
extraction) the contract is: Arrow-batched pandas UDFs only, never
row-at-a-time ``F.udf`` (K5 is documented as an anti-pattern and not
used anywhere in the engine).

Determinism notes per kind:
- scalar (K1): elementwise float math — identical IEEE ops → exact.
- grouped-agg (K2): accumulates in int64 cents (order-free), divides
  once → exact vs the decimal-sum oracle.
- grouped-map (K3): per-group normalize; mean/std accumulate floats in
  pandas row order, so outputs are ROUND(x, 6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table


@pandas_udf(DoubleType())
def clipped_zscore_100(v: pd.Series) -> pd.Series:
    """(x - 100) / 50, clipped to [-3, 3] — vectorized over Arrow batches."""
    return ((v - 100.0) / 50.0).clip(-3.0, 3.0)


@register(
    "udf_pandas_scalar",
    oracle="""
        -- NULL- and NaN-preserving clip (r12 nullmeasures/nanmeasures):
        -- the clip of an unknown value is unknown, and clip(NaN) = NaN
        -- (the numpy/pandas semantics the declared UDF carries) —
        -- DuckDB's least/greatest would otherwise absorb both into the
        -- bound itself
        SELECT event_id,
               value,
               CASE WHEN value IS NULL THEN NULL
                    WHEN isnan(value) THEN value
                    ELSE greatest(least((value - 100.0) / 50.0, 3.0), -3.0)
               END AS clipped_score
        FROM events
    """,
    tags=("K1",),
)
def udf_pandas_scalar(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.select("event_id", "value", clipped_zscore_100("value").alias("clipped_score"))


@pandas_udf(DoubleType())
def cents_mean(v: pd.Series) -> float:
    """Order-free mean of a 2-dp column: sum exact int64 cents, divide
    once. Matches CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)/COUNT.

    Contract: inputs must carry at most 2 decimal places (currency-like
    fixtures such as events.value). Anything finer would be silently
    truncated by the cents quantization, so the UDF verifies the
    round-trip per Arrow batch and raises instead of returning a
    quietly-wrong mean.
    """
    # NULL semantics mirror the SQL twin exactly (r12 nullmeasures):
    # SUM skips NULLs, COUNT(*) does not — so the mean is the non-null
    # cent sum over the FULL row count, and an all-NULL group is NULL
    nn = v.dropna()
    if len(nn) == 0:
        return None
    cents = (nn * 100).round()
    if not ((cents / 100.0 - nn).abs() < 1e-9).all():
        bad = nn[(cents / 100.0 - nn).abs() >= 1e-9].iloc[0]
        raise ValueError(
            f"cents_mean requires <=2 decimal places; got {bad!r} — "
            "use a float mean or widen the fixed-point scale"
        )
    return float(cents.astype("int64").sum()) / 100.0 / len(v)


@pandas_udf(LongType())
def group_count(v: pd.Series) -> int:
    return len(v)


@register(
    "udaf_grouped_agg",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """,
    tags=("K2",),
)
def udaf_grouped_agg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    # pandas grouped-agg UDFs cannot mix with JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT) — so the count is a pandas UDF too.
    return e.groupBy("event_type").agg(
        cents_mean("value").alias("mean_value"), group_count("value").alias("n")
    )


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["value"]
    std = v.std(ddof=1)
    # zero/undefined spread (single row or all-equal group) → NaN, the
    # same "undefined z" the SQL twin's x/stddev NULL produces
    # (round-12 degenerate sweep; the old 0.0 fallback disagreed)
    z = (v - v.mean()) / std if std > 0 else v * float("nan")
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z_value": z.round(6)}
    )


@register(
    "udf_grouped_map",
    oracle="""
        -- NaN pin (r13): pandas mean/std skip NaN (skipna default)
        -- while DuckDB's STDDEV_SAMP ERRORS on a NaN input — feed the
        -- moments the NULLed value; the raw value stays in the
        -- numerator so a NaN observation's own z is NaN on both sides
        SELECT event_id, user_id,
               ROUND((value - avg(vv) OVER w) / stddev_samp(vv) OVER w, 6) AS z_value
        FROM (SELECT event_id, user_id, value,
                     CASE WHEN isnan(value) THEN NULL ELSE value END AS vv
              FROM events)
        WINDOW w AS (PARTITION BY user_id)
    """,
    tags=("K3",),
)
def udf_grouped_map(spark, sf_dir):
    """applyInPandas grouped-map: per-user z-score. The SQL twin is a
    partitioned window mean/std — same math, verified to 6 dp."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.groupBy("user_id").applyInPandas(
        _normalize_group, "event_id bigint, user_id bigint, z_value double"
    )


@register(
    "udf_map_in_arrow",
    oracle="""
        SELECT doc_id,
               length(text) AS n_chars_utf8,
               strlen(text) AS n_bytes,
               upper(substr(text, 1, 8)) AS head_upper
        FROM documents
    """,
    tags=("K-arrow",),
)
def udf_map_in_arrow(spark, sf_dir):
    """The Arrow-NATIVE UDF seam: ``mapInArrow`` hands Python raw
    ``pyarrow.RecordBatch``es — no pandas materialization, no
    object-dtype conversion — and takes RecordBatches back.  This is
    the lowest-overhead Python hook the engine exposes (pandas UDFs
    add a to_pandas/from_pandas hop on top of it), the right seam for
    libraries that already speak Arrow (tokenizers, polars,
    DuckDB-in-executor, model runtimes with Arrow inputs).  The body
    runs entirely in pyarrow.compute kernels (C++, zero-copy).

    100 TB posture: identical to every *InPandas seam — Arrow batches
    stream per partition, Python parallelism = executor cores, no
    driver involvement; schema is declared up front so Catalyst plans
    around an opaque but typed map.  The oracle recomputes the
    kernels' semantics (UTF-8 char vs byte length, ASCII upper) in
    SQL, putting the Arrow round trip itself under the hash check."""
    from collections.abc import Iterator

    import pyarrow as pa

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def arrow_stats(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.utf8_upper(pc.utf8_slice_codeunits(text, 0, 8)),
                ],
                names=["doc_id", "n_chars_utf8", "n_bytes", "head_upper"],
            )

    return d.mapInArrow(
        arrow_stats, "doc_id long, n_chars_utf8 long, n_bytes long, head_upper string"
    )


@register(
    "udf_apply_in_arrow",
    oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               MAX(event_id) AS max_event_id
        FROM events
        GROUP BY user_id
    """,
    tags=("K-arrow", "grouped-map"),
)
def udf_apply_in_arrow(spark, sf_dir):
    """``groupBy().applyInArrow`` — the Arrow-NATIVE grouped-map seam
    (the grouped sibling of `udf_map_in_arrow`): each user's rows
    arrive as one ``pyarrow.Table``, the census computes entirely in
    pyarrow.compute kernels (C++, zero pandas materialization), and
    one summary row returns per group.  The per-row cents value is an
    int64 (`value` is exactly 2-dp in this corpus, so round(value*100)
    is the same IEEE double in Arrow and DuckDB) and the group sum is
    an integer — order-free, so the whole Arrow grouped round trip
    sits under the exact hash.

    100 TB posture: plans as a grouped Arrow map over one exchange on
    user_id — state is one group per task invocation (a hot user's
    rows all come to one task, the same skew surface every groupBy
    has; salting applies unchanged); batches stream per partition,
    Python parallelism = executor cores, no driver involvement.  The
    registry-wide sweep still forbids row-pickled BatchEvalPython —
    this node is Arrow-batched like every *InPandas/*InArrow seam."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def census(t: pa.Table) -> pa.Table:
        # NaN pin (round 13): Arrow's float→int cast raises on IEEE NaN
        # exactly like the engines' ANSI casts; mask NaN to NULL first —
        # the same nan_to_null boundary semantics, expressed in Arrow.
        scaled = pc.multiply(t["value"], 100.0)
        scaled = pc.if_else(pc.is_nan(scaled), pa.scalar(None, pa.float64()), scaled)
        cents = pc.cast(pc.round(scaled), pa.int64())
        # explicit int64 arrays (r12 nullmeasures): an all-NULL value
        # group sums to None, which a bare python list would infer as
        # arrow's null type and break the declared schema — the typed
        # array carries the NULL, mirroring the SQL twin's NULL SUM
        return pa.table(
            {
                "user_id": pa.array([t["user_id"][0].as_py()], pa.int64()),
                "n_events": pa.array([t.num_rows], pa.int64()),
                "value_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "max_event_id": pa.array([pc.max(t["event_id"]).as_py()], pa.int64()),
            }
        )

    return e.groupBy("user_id").applyInArrow(
        census, "user_id long, n_events long, value_cents long, max_event_id long"
    )


@register(
    "udf_cogrouped_apply_in_arrow",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        ),
        o AS (
            SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT COALESCE(e.user_id, o.o_custkey) AS user_id,
               COALESCE(n_events, 0) AS n_events,
               COALESCE(n_orders, 0) AS n_orders
        FROM e FULL JOIN o ON e.user_id = o.o_custkey
    """,
    tags=("K-arrow", "cogrouped"),
)
def udf_cogrouped_apply_in_arrow(spark, sf_dir):
    """``cogroup().applyInArrow`` — the Arrow-native COGROUPED seam
    (completing the Arrow family: mapInArrow K-arrow, grouped
    `udf_apply_in_arrow`, and now two-sided): events and orders are
    co-partitioned on the user key and each key's two ``pyarrow.Table``
    slices arrive together, either possibly empty — the custom-join
    escape hatch when neither a SQL join nor a single-input map can
    express the per-key merge.  The census (events count × orders
    count per user, zeros for one-sided keys) is integer-exact, and
    the full-outer SQL twin is the oracle, so the cogrouped dispatch,
    the empty-side contract, and the Arrow round trip all sit under
    the hash.

    100 TB posture: plans as one exchange per side on the shared key
    then a zipped Arrow map — exactly a shuffle join's data movement;
    per-task memory is one key's rows from both sides (the usual skew
    surface; salting applies).  3-arg form (key, left, right) is used
    so empty sides never require peeking into a 0-row table for the
    key."""
    import pyarrow as pa

    # r15 optimization (guide §4.1 "pass only the columns the function
    # needs"): the census only reads num_rows, so the payload columns
    # (event_id / o_orderkey) never needed to cross the cogroup
    # exchange or the Arrow boundary — each side ships the grouping key
    # alone.  (A pre-aggregated variant — groupBy counts BEFORE the
    # cogroup, guide §2.3 — was measured 4.3s vs 2.6s for this form at
    # sf0.1: the two extra aggregate stages cost more here than the
    # row-width saving; at hot-key scale the pre-agg swap bounds the
    # per-task Arrow slice and is the documented escape hatch.)
    e = load_table(spark, sf_dir, "events").select("user_id")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("user_id"))

    def census(key, left: pa.Table, right: pa.Table) -> pa.Table:
        return pa.table(
            {
                "user_id": pa.array([key[0].as_py()], pa.int64()),
                "n_events": pa.array([left.num_rows], pa.int64()),
                "n_orders": pa.array([right.num_rows], pa.int64()),
            }
        )

    return (
        e.groupBy("user_id")
        .cogroup(o.groupBy("user_id"))
        .applyInArrow(census, "user_id long, n_events long, n_orders long")
    )


@register(
    "sql_udf_registered",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               floor(CAST(o_totalprice AS DECIMAL(18,2)) * 7) / 100.0 AS tax
        FROM orders WHERE o_orderkey < 2000
    """,
    tags=("K-sql-udf",),
)
def sql_udf_registered(spark, sf_dir):
    """Python UDFs reachable from SQL TEXT: a vectorized (Arrow
    batched) pandas UDF registered into the session catalog with
    ``spark.udf.register`` and invoked from a plain SQL string — the
    surface that lets SQL-only consumers (BI layers, dbt models) call
    the engine's Python extensions.  The UDF body is integer-exact
    (floor of an exact-decimal-derived product), so the SQL oracle
    reproduces the values and the whole registration+dispatch path
    sits under the hash, not just a smoke test.

    100 TB posture: registration changes DISPATCH, not execution —
    the plan shows the same ArrowEvalPython stage a DataFrame-side
    pandas UDF gets (the registry-wide sweep still forbids
    row-pickled BatchEvalPython); Arrow batches stream per partition
    exactly as in K1."""
    from etl_builder_spark.session import register_views

    @pandas_udf(DoubleType())
    def tax7(price: pd.Series) -> pd.Series:
        import numpy as np_

        return np_.floor(price * 7) / 100.0

    spark.udf.register("tax7", tax7)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice, tax7(o_totalprice) AS tax
        FROM orders WHERE o_orderkey < 2000
        """
    )


def _nation_gap(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
    import pandas as pd

    nk = (
        left["c_nationkey"].iloc[0]
        if len(left)
        else right["s_nationkey"].iloc[0]
    )
    c_n, s_n = len(left), len(right)
    c_bal = float(left["c_acctbal"].sum()) if c_n else 0.0
    s_bal = float(right["s_acctbal"].sum()) if s_n else 0.0
    return pd.DataFrame(
        {
            "nationkey": [int(nk)],
            "n_customers": [c_n],
            "n_suppliers": [s_n],
            "customer_balance": [round(c_bal, 2)],
            "supplier_balance": [round(s_bal, 2)],
            "balance_gap": [round(c_bal - s_bal, 2)],
        }
    )


@register(
    "udf_cogrouped_map",
    oracle="""
        WITH c AS (
            SELECT c_nationkey AS nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
                       AS customer_balance
            FROM customer GROUP BY 1
        ),
        s AS (
            SELECT s_nationkey AS nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
                       AS supplier_balance
            FROM supplier GROUP BY 1
        )
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(c.n_customers, 0) AS n_customers,
               COALESCE(s.n_suppliers, 0) AS n_suppliers,
               COALESCE(c.customer_balance, 0.0) AS customer_balance,
               COALESCE(s.supplier_balance, 0.0) AS supplier_balance,
               ROUND(COALESCE(c.customer_balance, 0.0)
                     - COALESCE(s.supplier_balance, 0.0), 2) AS balance_gap
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    tags=("K-cogroup",),
)
def udf_cogrouped_map(spark, sf_dir):
    """The COGROUPED pandas seam — ``groupBy(k).cogroup(other.
    groupBy(k)).applyInPandas(fn)``: for every key, BOTH sides' rows
    arrive as two aligned pandas frames in one Python call.  This is
    the API for per-key logic that needs two tables at once (custom
    as-of merges, per-entity reconciliation, trajectory alignment)
    without pre-joining — here a per-nation customer-vs-supplier
    balance reconciliation, with the SQL twin (two aggregates + full
    outer join) hashing the seam end-to-end, empty-side keys
    included.

    100 TB posture: one hash exchange per side on the cogroup key
    (exactly what the equivalent join would pay), Arrow batches per
    key group, Python parallelism = executor cores.  Per-key frames
    must fit executor memory — the same contract as applyInPandas,
    hence the aggregate-sized demo; at scale pre-reduce each side
    first (as any cogroup consumer should)."""
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    schema = (
        "nationkey bigint, n_customers bigint, n_suppliers bigint, "
        "customer_balance double, supplier_balance double, balance_gap double"
    )
    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(_nation_gap, schema)
    )
