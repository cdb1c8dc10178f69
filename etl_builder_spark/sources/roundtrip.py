"""A3 declared coverage: CSV and JSON readers proven by round-trip.

Round 1 covered the CSV/JSON/text readers with pytest only; this
declares a CORRECTNESS-row query: write an orders slice to BOTH csv
and json-lines, read each back through the explicit-schema readers
(sources/readers.py — never inferSchema), and return the union tagged
by source format. The oracle reads the same slice straight from
parquet — so any value the text formats mangle (double formatting,
timestamp parsing, quoting) diverges from ground truth.

Timestamp discipline: the format is pinned (yyyy-MM-dd HH:mm:ss) on
write AND read; doubles rely on Java's round-trip-exact
Double.toString ↔ parse pair.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table
from etl_builder_spark.sources.readers import read_csv, read_json
from etl_builder_spark.sources.staging import empty_stage

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

_SLICE_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("o_orderdate", TimestampType()),
    ]
)


@register(
    "roundtrip_csv_json",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
            FROM orders WHERE o_orderkey < 2000
        )
        SELECT 'csv' AS src, * FROM base
        UNION ALL
        SELECT 'json' AS src, * FROM base
    """,
    tags=("A3",),
)
def roundtrip_csv_json(spark, sf_dir):
    """orders slice → csv + json-lines on disk → explicit-schema read
    back → union tagged by format; oracle is the parquet ground truth."""
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        )
    )
    root = empty_stage("etl_builder_spark_roundtrip", sf_dir)
    csv_path, json_path = os.path.join(root, "csv"), os.path.join(root, "json")
    base.write.mode("overwrite").option("header", "true").option(
        "timestampFormat", _TS_FMT
    ).csv(csv_path)
    base.write.mode("overwrite").option("timestampFormat", _TS_FMT).json(json_path)

    from_csv = read_csv(spark, csv_path, _SLICE_SCHEMA, timestamp_format=_TS_FMT)
    from_json = read_json(spark, json_path, _SLICE_SCHEMA, timestamp_format=_TS_FMT)
    return from_csv.withColumn("src", F.lit("csv")).unionByName(
        from_json.withColumn("src", F.lit("json"))
    )


@register(
    "roundtrip_schema_evolution",
    oracle="""
        SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey < 1000
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
    """,
    tags=("A4", "schema-evolution"),
)
def roundtrip_schema_evolution(spark, sf_dir):
    """Schema evolution under mergeSchema: a v1 file set without
    o_totalprice and a v2 set with it read together; v1 rows surface
    NULL for the added column. Oracle states the union with the
    explicit NULL — so the merged read's value semantics, not just its
    schema, are checked."""
    orders = load_table(spark, sf_dir, "orders")
    root = empty_stage("etl_builder_spark_roundtrip_evolution", sf_dir)
    v1 = orders.where(F.col("o_orderkey") < 1000).select("o_orderkey", "o_orderstatus")
    v2 = orders.where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1.write.mode("overwrite").parquet(os.path.join(root, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(root, "v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "roundtrip_orc",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey < 2000
    """,
    tags=("A3", "A4"),
)
def roundtrip_orc(spark, sf_dir):
    """Same slice through ORC (footer-carried schema, binary-exact
    types — no text-format pinning needed); oracle is the parquet
    ground truth, so the check is writer+reader value fidelity."""
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
    )
    path = empty_stage("etl_builder_spark_roundtrip_orc", sf_dir)
    base.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "scan_csv_corrupt_permissive",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_totalprice END
                   AS o_totalprice,
               (o_orderkey % 13 = 0) AS is_corrupt
        FROM orders WHERE o_orderkey < 5000
    """,
    tags=("A3-corrupt",),
)
def scan_csv_corrupt_permissive(spark, sf_dir):
    """Malformed-input ingest — the PERMISSIVE contract every raw-file
    pipeline depends on: a CSV with deliberately corrupted rows (every
    13th key's price replaced by an unparseable token) is read with an
    explicit schema + ``columnNameOfCorruptRecord``; unparseable
    FIELDS become NULL, parseable fields of the same row survive, and
    the raw line lands in the corrupt-record column for quarantine —
    one bad cell never kills the job (FAILFAST) or silently drops the
    row (DROPMALFORMED).  The oracle predicts the exact surviving
    values from the injection rule, so the hash check pins the
    permissive semantics themselves.

    100 TB posture: corruption handling must be row-local — PERMISSIVE
    parsing is embarrassingly parallel, needs no repair pass, and the
    is_corrupt flag routes rows to quarantine in the SAME scan
    (dq_quarantine_split is the downstream half).  An explicit schema
    is non-negotiable at scale: inferSchema is a full extra read, and
    a drifting inferred type silently corrupts every later batch."""
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    # a genuinely-NULL price serializes as an EMPTY CSV field (r12
    # nullmeasures): concat_ws would otherwise drop the field entirely,
    # shortening the row and mis-flagging it corrupt on read-back
    corrupt_price = F.when(
        F.col("o_orderkey") % 13 == 0,
        F.concat(F.lit("corrupt#"), F.col("o_orderkey").cast("string")),
    ).otherwise(F.coalesce(F.col("o_totalprice").cast("string"), F.lit("")))
    lines = base.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderstatus"),
            corrupt_price,
        ).alias("value")
    )
    root = empty_stage("etl_builder_spark_corruptcsv", sf_dir)
    lines.write.mode("overwrite").text(root)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(root)
    )
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


@register(
    "etl_union_schema_drift",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_channel,
               'v1' AS batch_ver
        FROM orders WHERE o_orderkey < 2000
        UNION ALL
        SELECT o_orderkey, o_totalprice,
               CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END,
               'v2'
        FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000
    """,
    tags=("A-schema-drift",),
)
def etl_union_schema_drift(spark, sf_dir):
    """Schema-drift union — the multi-batch reality of any long-lived
    feed: an old batch written BEFORE a column existed (v1, no
    o_channel) must union with a new batch that has it (v2), the
    missing column null-filled, without rewriting history.  Staged as
    two real parquet layouts with different physical schemas, read
    back independently, and combined with
    ``unionByName(allowMissingColumns=True)`` — the engine-level
    contract (mergeSchema on the reader is the scan-level twin,
    covered by roundtrip_schema_evolution).  The oracle predicts the
    aligned result from the injection rule.

    100 TB posture: schema evolution must never require rewriting old
    partitions — alignment happens at READ time per batch, each scan
    still prunes to its own physical columns, and the null-fill is a
    zero-cost projection.  Additive drift only: renames/retypes need
    an explicit mapping layer (dq_schema_contract is the audit that
    catches them before they corrupt a union)."""
    base = load_table(spark, sf_dir, "orders")
    v1 = (
        base.where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_totalprice")
    )
    v2 = (
        base.where((F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.when(F.col("o_orderkey") % 3 == 0, "web").otherwise("store").alias("o_channel"),
        )
    )
    root = empty_stage("etl_builder_spark_schemadrift", sf_dir)
    p1, p2 = os.path.join(root, "v1"), os.path.join(root, "v2")
    v1.write.mode("overwrite").parquet(p1)
    v2.write.mode("overwrite").parquet(p2)
    r1 = spark.read.parquet(p1).withColumn("batch_ver", F.lit("v1"))
    r2 = spark.read.parquet(p2).withColumn("batch_ver", F.lit("v2"))
    return r1.unionByName(r2, allowMissingColumns=True).select(
        "o_orderkey", "o_totalprice", "o_channel", "batch_ver"
    )
