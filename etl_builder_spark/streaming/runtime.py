"""Structured Streaming runtime (SURVEY.md §2 J-rows, A6/A7).

Real readStream pipelines over the events corpus: the file source
replays parquet files as micro-batches; sinks are memory tables for
tests and parquet/foreachBatch for production. The stateful operators
(windowed aggs, session windows, dedup-in-watermark, per-key counters)
run against the versioned StateStore with watermark-driven eviction —
the 100 TB posture is: state is partitioned per key like any shuffle,
and the watermark bounds its size.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType


def stream_events(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """events as a stream: file source over parquet.  File streams
    cannot infer schemas, so pin it from a batch footer probe of the
    same directory (one metadata read, no data scan) — this keeps the
    stream working across corpus generations where ts was TIMESTAMP
    (NANOS) (ns-long under nanosAsLong) vs TIMESTAMP(MICROS) (NTZ);
    normalize_events_ts converts either to session-UTC TimestampType.
    The probe goes through the table memo keyed on the directory's
    entries, so a replay of an unchanged directory does not repeat it."""
    from etl_builder_spark.session import (
        _pin_runtime_confs,
        dir_version,
        normalize_events_ts,
        read_parquet,
    )

    _pin_runtime_confs(spark)
    schema = read_parquet(spark, path, dir_version(path)).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(path)
    return normalize_events_ts(df)


def state_partitions(input_bytes: int, advisory_bytes: int, shuffle_partitions: int) -> int:
    """State partitions for a replay of ``input_bytes``: one per
    ``advisory_bytes`` (AQE's target partition size), at least 1 and at
    most the session's shuffle count."""
    return max(1, min(shuffle_partitions, -(-input_bytes // advisory_bytes)))


def _stream_input_bytes(sdf: DataFrame) -> int | None:
    """Bytes under the ``path`` of every streaming leaf of ``sdf``'s
    plan (the directories ``stream_events`` opened), or None when a
    streaming leaf is not a local file source.  Batch leaves (the
    static side of a stream-static join) hold no state and are
    skipped."""
    leaves = sdf._jdf.queryExecution().logical().collectLeaves().iterator()
    total = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return None
        path = leaf.dataSource().options().get("path")
        if path.isEmpty() or not os.path.isdir(path.get()):
            return None
        for d, _, files in os.walk(path.get()):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def await_or_stop(q: StreamingQuery, timeout_s: float) -> None:
    """Wait for ``q`` to terminate; if it is still running after
    ``timeout_s``, stop it and raise ``TimeoutError``.  A replay that
    runs out of time must fail loudly: returning would hand the caller
    a sink holding only part of the output, with the query still
    running behind it."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within {timeout_s}s"
        )


def run_to_memory(sdf: DataFrame, mode: str = "complete", timeout_s: int = 120) -> DataFrame:
    """Execute a streaming frame to completion (availableNow) into a
    memory sink; return the sink table as a batch DataFrame."""
    return run_to_memory_with_progress(sdf, mode, timeout_s)[0]


def run_to_memory_with_progress(
    sdf: DataFrame, mode: str = "complete", timeout_s: int = 120
) -> tuple[DataFrame, list[dict]]:
    """Like run_to_memory, but also return the per-micro-batch progress
    dicts so callers can assert on state-operator metrics — notably
    ``numRowsDroppedByWatermark``, the only observable record of rows
    the watermark discarded (they appear in no sink).

    ``q.recentProgress`` keeps only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    entries, so a replay with more micro-batches would silently
    truncate the metrics this helper promises.  A
    ``StreamingQueryListener`` sees every progress event regardless of
    that cap; the two sources are merged by batchId (the listener
    thread delivers asynchronously, so recentProgress also covers any
    tail event still in flight when the query terminates)."""
    import json
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    spark = sdf.sparkSession
    name = f"mem_{uuid.uuid4().hex[:10]}"
    seen: dict[int, dict] = {}

    class _Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            if p.get("name") == name:
                seen[p["batchId"]] = p

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    # The replay owns its checkpoint, so it picks its own state
    # partition count, sized from its input rather than from the
    # session's shuffle count.  start() clones the session's confs and
    # the checkpoint pins the count, so the session value is restored
    # as soon as the query has started.
    shuffle_key = "spark.sql.shuffle.partitions"
    shuffle = spark.conf.get(shuffle_key)
    input_bytes = _stream_input_bytes(sdf)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    listener = _Collect()
    spark.streams.addListener(listener)
    try:
        try:
            if input_bytes is not None:
                advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
                )
                n = state_partitions(input_bytes, advisory, int(shuffle))
                spark.conf.set(shuffle_key, str(n))
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
        finally:
            spark.conf.set(shuffle_key, shuffle)
        await_or_stop(q, timeout_s)
        # Once the query has terminated, recentProgress holds its last
        # batches; the listener, which delivers on its own thread, holds
        # the earlier ones.  Wait (bounded) only while a batch id below
        # the highest is still missing.
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else json.loads(p.json)
            seen.setdefault(d["batchId"], d)
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            ids = list(seen)
            if len(ids) == max(ids, default=-1) + 1:
                break
            time.sleep(0.05)
        out = spark.table(name)
    finally:
        spark.streams.removeListener(listener)
        # the query has stopped (or never started) and the memory sink
        # keeps its rows in memory, so the checkpoint is dead weight;
        # ``out`` holds the sink itself, so the catalog view would only
        # pile up one entry per replay
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.catalog.dropTempView(name)
    progress = [seen[b] for b in sorted(seen)]
    return out, progress


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """J1/J4: watermarked tumbling-window counts (append-safe)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """J3 streaming form: session windows with watermark."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """J5: drop duplicate event_ids within the watermark horizon —
    state stores only ids inside the 2h window, bounded by eviction."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """J7: stream ⋈ static dim — the dim is broadcast each micro-batch;
    no state, no watermark needed."""
    return events.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        events["user_id"] == F.col("c_custkey"),
    ).select("event_id", "ts", "user_id", "c_mktsegment", "value")


def stream_stream_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream inner join (signups ⋈ purchases within 30 min,
    same user). Both sides carry watermarks and the join condition
    bounds event-time ranges — that is what lets Spark evict join
    state: a signup older than watermark+30min can never match again.
    Streaming twin of the batch `join_interval` declared query."""
    s = events.where(F.col("event_type") == "signup").withWatermark("ts", "1 hour").alias("s")
    p = events.where(F.col("event_type") == "purchase").withWatermark("ts", "1 hour").alias("p")
    cond = F.expr(
        "s.user_id = p.user_id AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 30 MINUTES"
    )
    return s.join(p, cond).select(
        F.col("s.user_id").alias("user_id"),
        F.col("s.event_id").alias("signup_event_id"),
        F.col("p.event_id").alias("purchase_event_id"),
    )


def running_user_counters(events: DataFrame) -> DataFrame:
    """J6: arbitrary stateful — running per-user event counters via
    applyInPandasWithState (one state row per user, updated per batch)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def foreach_batch_parquet_sink(
    sdf: DataFrame, sink_dir: str, checkpoint_dir: str, timeout_s: int = 120
) -> None:
    """A7/J-cap: foreachBatch → idempotent parquet sink.  Each
    micro-batch overwrites its OWN ``batch_id=N`` directory, the
    standard exactly-once-by-idempotence pattern for sinks without
    transactional commit: a batch replayed after failure rewrites the
    same directory instead of appending duplicates (checkpoint tracks
    the offsets, the overwrite makes redelivery harmless).  At 100 TB
    the same shape targets a transactional table format; the per-batch
    overwrite is the format-agnostic fallback."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{sink_dir}/batch_id={batch_id}")

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_or_stop(q, timeout_s)


def foreach_batch_merge_sink(
    sdf: DataFrame, target_dir: str, checkpoint_dir: str, timeout_s: int = 120
) -> str:
    """Streaming MERGE/upsert by versioned snapshots: each micro-batch
    folds its per-user partial state into the previous snapshot and
    writes snapshot ``v{batch_id}`` — hand-rolled table versioning,
    the format-agnostic stand-in for MERGE INTO on a transactional
    format.  Idempotent under redelivery by construction: a replayed
    batch re-reads v{batch_id-1} (never its own output) and overwrites
    its own v{batch_id}, so recovery converges to the same snapshot
    chain.  The folded state is algebraic — integer counts add; the
    'latest' column rides a zero-padded (epoch_us, event_id) string
    key under MAX/GREATEST, so partial merge order can't change it.

    Returns the path of the newest snapshot."""
    from pyspark.sql import functions as F

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_snapshot_batch(batch, batch_id, target_dir)

    q = (
        sdf.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_or_stop(q, timeout_s)
    versions = sorted(
        (d for d in os.listdir(target_dir) if d.startswith("v")),
        key=lambda s: int(s[1:]),
    )
    return os.path.join(target_dir, versions[-1])


def merge_snapshot_batch(batch: DataFrame, batch_id: int, target_dir: str) -> None:
    """One MERGE fold: previous snapshot v{batch_id-1} + this batch →
    overwrite v{batch_id}.  Reading the PREDECESSOR (never its own
    output) is what makes redelivery idempotent: a batch replayed
    after a crash that already wrote v{batch_id} recomputes it from
    the same inputs and overwrites it identically."""
    from pyspark.sql import functions as F

    # NULL-valued events count toward n_events but carry no decodable
    # key (r12 nullmeasures): format_string would render the literal
    # string 'null' into the key and poison the downstream cast — the
    # when() makes the whole key NULL, which MAX skips, exactly like
    # the oracle's || NULL concat
    part = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(
                F.col("value").isNotNull(),
                F.concat(
                    F.format_string(
                        "%020d%010d", F.unix_micros("ts"), F.col("event_id")
                    ),
                    F.format_string("%.2f", F.col("value")),
                ),
            )
        ).alias("last_key"),
    )
    prev_path = os.path.join(target_dir, f"v{batch_id - 1}")
    if os.path.isdir(prev_path):
        prev = batch.sparkSession.read.parquet(prev_path)
        p = prev.select(
            F.col("user_id"),
            F.col("n_events").alias("p_n"),
            F.col("last_key").alias("p_k"),
        )
        merged = part.join(p, "user_id", "full").select(
            "user_id",
            (F.coalesce("n_events", F.lit(0)) + F.coalesce("p_n", F.lit(0))).alias(
                "n_events"
            ),
            F.greatest(
                F.coalesce(F.col("last_key"), F.col("p_k")),
                F.coalesce(F.col("p_k"), F.col("last_key")),
            ).alias("last_key"),
        )
    else:
        merged = part
    merged.write.mode("overwrite").parquet(os.path.join(target_dir, f"v{batch_id}"))
