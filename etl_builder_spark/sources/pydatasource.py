"""Python DataSource API (Spark 4, SURVEY §2 A-rows): the engine's
CUSTOM CONNECTOR surface — `pyspark.sql.datasource.DataSource` lets a
pipeline ingest from systems Spark has no built-in reader for
(internal services, queues, bespoke formats) with real distributed
planning: the reader declares InputPartitions, each becomes one task,
and each task streams Arrow RecordBatches.

The declared key routes the documents table THROUGH the connector —
one partition per doc_id shard, pyarrow-filtered reads, Arrow-batch
yields — so the registration, partition planning, per-task reads, and
batch delivery all sit under the t2 hash against the plain relational
oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from etl_builder_spark.registry import register
from etl_builder_spark.session import load_table

#: shard count — power of two so the shard filter is a bit mask
PYDS_PARTS = 4


def _pushdown_witness_path(src_path: str) -> str:
    """Side-channel the planning worker can write and tests can read:
    pushFilters runs in a separate Python process, so in-memory
    instrumentation is invisible — the accepted bound is recorded here
    (test-only observability; production connectors log instead).

    Keyed on a sha256 digest of the source parquet path (ADVICE r11):
    a single fixed global-tempdir path was shared across corpora and
    concurrent runs, so a bench run alongside pytest could interleave
    delete/write/read and make the pushdown test flaky."""
    import hashlib
    import os
    import tempfile

    digest = hashlib.sha256(os.path.abspath(src_path).encode("utf-8")).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"etl_builder_spark_pyds_pushdown-{digest}.txt")


class _DocsShardReader(DataSourceReader):
    """One InputPartition per doc_id shard; each task reads the shared
    parquet file and keeps its shard (doc_id & (parts-1) == shard).
    Yields pyarrow RecordBatches — the vectorized delivery path — so
    rows never pickle one at a time.

    Implements ``pushFilters`` for `doc_id < N`: the accepted bound is
    applied inside read() (here: a pyarrow filter; a real connector
    would narrow its service query), every other filter is yielded
    back for Spark to re-apply — the standard partial-pushdown
    contract."""

    def __init__(self, path: str, parts: int) -> None:
        self.path = path
        self.parts = parts
        self.doc_id_upper = None  # exclusive bound accepted by pushFilters

    def pushFilters(self, filters):
        from pyspark.sql.datasource import LessThan

        for f in filters:
            if (
                isinstance(f, LessThan)
                and f.attribute == ("doc_id",)
                and isinstance(f.value, int)
            ):
                self.doc_id_upper = f.value
                with open(_pushdown_witness_path(self.path), "w") as fh:
                    fh.write(f"doc_id<{f.value}")
            else:
                yield f  # unsupported: Spark re-applies above the scan

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(self.path, columns=["doc_id", "lang", "n_chars"])
        mine = t.filter(
            pc.equal(pc.bit_wise_and(t["doc_id"], self.parts - 1), partition.value)
        )
        if self.doc_id_upper is not None:
            mine = mine.filter(pc.less(mine["doc_id"], self.doc_id_upper))
        yield from mine.to_batches()


class DocsPyDataSource(DataSource):
    """The documents table served through the Python DataSource API.
    In production the read() body would call the external system; the
    planning contract (named format, options, schema, partitions) is
    identical."""

    @classmethod
    def name(cls) -> str:
        return "etl_docs_pyds"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def reader(self, schema):
        return _DocsShardReader(self.options["path"], int(self.options["parts"]))


@register(
    "scan_python_datasource",
    oracle="""
        SELECT doc_id, lang, n_chars
        FROM documents
        ORDER BY doc_id
    """,
    tags=("A-pyds", "connector"),
)
def scan_python_datasource(spark, sf_dir):
    """The Spark-4 Python DataSource API as a declared, hash-checked
    surface: register the connector class, `spark.read.format(...)`
    by its name, and scan — 4 InputPartitions plan as 4 tasks, each
    pyarrow-reading its doc_id shard and yielding Arrow RecordBatches.
    The oracle is the plain projection of the same table, so any row
    lost, duplicated, or mangled by the connector path (registration,
    option passing, partition planning, per-task filter, Arrow
    delivery) breaks the hash.

    100 TB posture: this is the scale contract custom connectors get —
    partition count is the parallelism (a real connector lists shards/
    splits/offset ranges instead of a modulus), tasks stream batches
    independently with no driver involvement, and the plan is a
    `BatchScan <name> (Python)` leaf that composes with every
    downstream operator.  Filters/column pruning can push into the
    reader via DataSourceReader.pushFilters as a connector grows; the
    declared key keeps the read body minimal on purpose."""
    import os

    # pin session confs the way every declared key does (load_table
    # side effect → _pin_runtime_confs, which includes the pushFilters
    # feature flag uniformly for ALL keys — ADVICE r11: a per-key
    # conf.set leaked plan-affecting state into subsequent keys)
    load_table(spark, sf_dir, "documents")
    spark.dataSource.register(DocsPyDataSource)
    return (
        spark.read.format("etl_docs_pyds")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("parts", str(PYDS_PARTS))
        .load()
        .orderBy("doc_id")
    )


#: the pushdown key's frame bound (exclusive)
PYDS_PUSHDOWN_MAX = 200


@register(
    "scan_python_datasource_pushdown",
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE doc_id < {PYDS_PUSHDOWN_MAX}
        ORDER BY doc_id
    """,
    tags=("A-pyds", "connector", "pushdown"),
)
def scan_python_datasource_pushdown(spark, sf_dir):
    """Filter PUSHDOWN through the Python DataSource connector
    (`DataSourceReader.pushFilters`, gated by
    spark.sql.python.filterPushdown.enabled): the `doc_id < 200`
    predicate is offered to the reader at planning time, ACCEPTED (a
    real connector would narrow its service query; here the per-task
    pyarrow read applies the bound), and every unsupported filter is
    yielded back for Spark to re-apply — the partial-pushdown
    contract.  The reader records the accepted bound to a witness
    file, and the test asserts it was genuinely pushed rather than
    filtered post-scan; the oracle is the literal predicate.

    100 TB posture: THE lever that makes custom connectors scale —
    without pushFilters every predicate scans the connector's full
    corpus and filters in Spark; with it the external system prunes at
    the source, exactly like parquet's PushedFilters.  Column pruning
    composes the same way (the reader already projects the declared
    schema only)."""
    import os

    load_table(spark, sf_dir, "documents")
    spark.dataSource.register(DocsPyDataSource)
    return (
        spark.read.format("etl_docs_pyds")
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .option("parts", str(PYDS_PARTS))
        .load()
        .where(F.col("doc_id") < PYDS_PUSHDOWN_MAX)
        .orderBy("doc_id")
    )
