"""SparkSession factory and table catalog.

Scale posture: tested on local[N] but configured for cluster scale —
AQE on (runtime shuffle-partition coalescing, skew-join splitting,
broadcast conversion), adaptive partition sizing, Arrow at the Python
boundary. On a real 1000-executor cluster the same code runs unchanged;
only ``spark.sql.shuffle.partitions`` / executor sizing move.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at any realistic scale factor
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "etl_builder_spark", shuffle_partitions: int = 32) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    UTC timezone (corpus timestamps are naive; the DuckDB oracle is
    naive — UTC makes them agree), Arrow for the pandas-UDF boundary,
    AQE for runtime re-planning.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_memory()))
        # Spark's generated-class cache holds 100 classes by default,
        # fewer than the engine's working set: about 110 distinct
        # classes for the olap mix and about 180 for the curate mix.  An
        # evicted class is recompiled with Janino on its next use, so
        # every pass recompiled what the pass before had compiled.
        # Guava splits the bound over 4 segments and evicts per
        # segment, so 1000 leaves each segment about 250 slots for
        # about 45 classes.  A static conf: it only takes effect when
        # this call creates the session.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _pin_runtime_confs(spark)
    return spark


def _driver_memory() -> str:
    """A quarter of physical memory, at most 8g, so two engine
    processes side by side (a test run and a selfcheck) fit the host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 4, 8 << 30) >> 20}m"


def round_barrier(df: DataFrame) -> DataFrame:
    """Materialize one round of a fixpoint loop and cut its lineage.

    Every iterative key (k-core peeling, the Markov power steps, both
    connected-components loops, DBSCAN's neighbor pairs) passes each
    round's frame through here, so where a loop materializes is decided
    once.

    Why a cut and not ``persist()``: a persisted frame keeps its whole
    logical plan, and a round's plan holds the previous round's cached
    frame, which holds the one before.  AQE re-plans those nested
    caches stage by stage on every read, so a lazy persist per round
    cost a warm ``graph_kcore_peel`` call about 50 s against 4 s for
    the cut (sf0.001, PERF.md round-9 addendum).  An eager ``localCheckpoint`` runs
    one job now and returns a frame whose plan is a single
    ``LogicalRDD`` leaf, so the next round analyzes and plans only its
    own joins.  The cut also drops the frame's output partitioning: a
    consumer that relied on a hash-partitioned persist shuffles again.

    Fault tolerance: the blocks live on the executors that computed
    them and have no lineage to recompute from, so losing an executor
    fails the query instead of recomputing the lost partitions.  On a
    cluster where that matters, this function becomes a reliable
    ``checkpoint()`` into a directory that ``sources/staging.py`` owns;
    that swap changes only this function and adds no option.
    """
    return df.localCheckpoint(eager=True)


def _pin_runtime_confs(spark: SparkSession) -> None:
    """Pin determinism-critical confs even on a session we didn't build.

    The driver constructs its own SparkSession for verification; these
    are runtime-settable so every query helper re-pins them.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Corpus generations that carry events.ts as TIMESTAMP(NANOS) are
    # rejected by Spark's reader by default; read those as raw nanos
    # and let normalize_events_ts convert. Harmless for µs corpora.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Arrow-optimized Python UDTF evaluation (Spark 4): pinned here —
    # not inside any one operator body — so every UDTF-based plan (and
    # the registry-wide BatchEvalPython sweep) sees the same evaluation
    # mode regardless of query build order (ADVICE r4).
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    # Python DataSource pushFilters support (Spark 4): pinned here — not
    # inside the connector keys — so the plan-affecting flag is uniformly
    # on for every key instead of leaking in at first connector use
    # (ADVICE r11: cross-key plan-shape bleed).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-UTC TimestampType across corpus
    generations.

    The driver has shipped events.ts both as parquet TIMESTAMP(NANOS)
    (arrives as ns-epoch LongType under nanosAsLong) and as
    TIMESTAMP(MICROS) without UTC adjustment (arrives as
    TIMESTAMP_NTZ).  Both normalize to identical TimestampType values:
    integer ``div`` for the ns case (ns magnitudes overflow double
    precision, and the corpus is µs-precision so the truncation is
    lossless — measured, FIXTURES.md), a plain cast for the NTZ case
    (the UTC session timezone makes the wall-clock reinterpretation
    value-preserving).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: The package's one module-level memo, filled through ``_memo``.
#: (applicationId, path, version) → LAZY DataFrame handle, for corpus
#: tables (``load_table``) and for the directories a stream replays
#: (``streaming.runtime.stream_events``, which needs only the schema).
#: Memoizes only the unresolved relation (plan-level reuse — spark.read
#: .parquet resolves the footer schema EAGERLY, ~80ms of driver time
#: per call, and one benchmark pass made ~160 load_table calls), never
#: any data: every action over the handle still scans the parquet
#: files.  The one other kind of entry is ``pq.corpus_codebook``'s
#: trained m·k codebook rows, a model artifact keyed on the embeddings
#: file's version.  The version in each key makes a regenerated corpus
#: at the same path miss the memo; the size bound keeps multi-corpus
#: test sessions from accumulating entries.  A table miss also
#: refreshes Spark's cache for the path: Spark matches cached plans by
#: file path, not by file version, so frames persisted over an older
#: version of the file would otherwise keep serving its rows.
_TABLE_CACHE: dict = {}


def _memo(key: tuple, build):
    """``_TABLE_CACHE[key]``, calling ``build()`` on a miss; the memo is
    cleared when it holds 256 entries."""
    value = _TABLE_CACHE.get(key)
    if value is None:
        value = build()
        if len(_TABLE_CACHE) >= 256:
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = value
    return value


def file_version(path: str) -> int:
    """The file's mtime in ns (-1 if absent): the part of a memo key
    that makes a file rewritten at the same path miss the memo."""
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def dir_version(path: str) -> tuple:
    """A directory's version: its entries' ``(name, mtime_ns)``, so
    adding, removing or rewriting a file misses the memo (``()`` if
    absent)."""
    try:
        return tuple(sorted((e.name, e.stat().st_mtime_ns) for e in os.scandir(path)))
    except OSError:
        return ()


def read_parquet(spark: SparkSession, path: str, version, post=None) -> DataFrame:
    """``spark.read.parquet(path)``, then ``post`` if given, through the
    table memo: one footer probe per (session, path, version)."""

    def build() -> DataFrame:
        spark.catalog.refreshByPath(path)
        df = spark.read.parquet(path)
        return post(df) if post is not None else df

    return _memo((spark.sparkContext.applicationId, path, version), build)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Parquet scan → vectorized columnar reader;
    filters/pruning push down from whatever the caller composes on top."""
    _pin_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    post = normalize_events_ts if name == "events" else None
    return read_parquet(spark, path, file_version(path), post)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (mirrors the DuckDB
    oracle's pre-registered views) so SQL and DataFrame entry points
    share one catalog."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
