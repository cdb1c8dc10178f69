"""Streaming smokes (SURVEY.md §2 J-rows): the real readStream
pipelines execute end-to-end with memory sinks, and their final state
matches the deterministic batch twins where semantics allow.

The parquet file-stream source requires a *directory* (single files are
rejected: "Option 'basePath' must be a directory"), so fixtures
materialize the events file into tmp dirs.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_builder_spark.session import load_table
from etl_builder_spark.streaming import runtime
from tests.conftest import SF_DIR

EVENTS = os.path.join(SF_DIR, "events.parquet")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(EVENTS, d / "events.parquet")
    return str(d)


def test_tumbling_stream_matches_batch(spark, events_dir):
    """J1: streaming tumbling counts (complete mode, full replay) ==
    batch groupBy over the same data."""
    ev = runtime.stream_events(spark, events_dir)
    out = runtime.run_to_memory(runtime.tumbling_counts(ev, watermark="100 days"), "complete")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_replay_timeout_raises_and_stops_query(spark, events_dir, tmp_path):
    """A replay that cannot finish within its timeout raises instead of
    returning a partial result, and leaves no streaming query running —
    for the memory sink and the foreachBatch sink alike."""
    ev = runtime.stream_events(spark, events_dir)
    with pytest.raises(TimeoutError, match="mem_"):
        runtime.run_to_memory(runtime.session_counts(ev), "complete", timeout_s=0.001)
    assert spark.streams.active == []
    with pytest.raises(TimeoutError, match="did not finish"):
        runtime.foreach_batch_parquet_sink(
            ev, str(tmp_path / "sink"), str(tmp_path / "ckpt"), timeout_s=0.001
        )
    assert spark.streams.active == []


def test_session_stream_runs(spark, events_dir):
    ev = runtime.stream_events(spark, events_dir)
    out = runtime.run_to_memory(runtime.session_counts(ev), "complete")
    n_events = out.agg(F.sum("n_events")).collect()[0][0]
    assert n_events == 1000  # every event lands in exactly one session


def test_memory_replay_removes_its_checkpoint(spark, events_dir):
    """A memory-sink replay leaves no ``ckpt_*`` temp dir behind, and
    its rows stay readable once the checkpoint is gone."""
    import glob
    import tempfile

    def ckpts():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_*")))

    before = ckpts()
    ev = runtime.stream_events(spark, events_dir)
    out = runtime.run_to_memory(runtime.session_counts(ev), "complete")
    assert ckpts() == before
    assert out.agg(F.sum("n_events")).collect()[0][0] == 1000


def test_memory_replays_leave_no_catalog_views(spark, events_dir):
    """Memory-sink replays drop their ``mem_*`` temp view once they
    hold the sink's frame, so a long session's catalog does not grow
    per replay; the returned frames still collect every row."""

    def mem_views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}

    before = mem_views()
    ev = runtime.stream_events(spark, events_dir)
    outs = [runtime.run_to_memory(runtime.session_counts(ev), "complete") for _ in range(2)]
    assert mem_views() - before == set()
    for out in outs:
        assert out.agg(F.sum("n_events")).collect()[0][0] == 1000


def test_live_keys_stay_bounded_over_passes(spark, monkeypatch, tmp_path):
    """Soak: three passes of ``stream_tumbling_1h_live`` and
    ``stream_foreachbatch_sink`` in one session.  After the first pass
    has built its stages, a further pass must add nothing: the catalog
    tables, the entries under the temp dir (two levels deep), the
    streaming listener count and the active streams read the same after
    pass 2 as after pass 3, and no stream is left running.  Executor
    cached bytes are printed per pass (not asserted: the session is
    shared with every other test's persisted frames)."""
    import glob
    import tempfile

    from etl_builder_spark.streaming.batch_twins import (
        stream_foreachbatch_sink,
        stream_tumbling_1h_live,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def readings():
        entries = glob.glob(os.path.join(tmp_path, "*")) + glob.glob(
            os.path.join(tmp_path, "*", "*")
        )
        return {
            "tables": sorted(t.name for t in spark.catalog.listTables()),
            "entries": sorted(os.path.relpath(e, tmp_path) for e in entries),
            "listeners": len(spark.streams._jsqm.listListeners()),
            "active": [q.name for q in spark.streams.active],
        }

    seen, cached_mb = [], []
    for _ in range(3):
        for key in (stream_tumbling_1h_live, stream_foreachbatch_sink):
            assert key(spark, SF_DIR).count() > 0
        seen.append(readings())
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached_mb.append(round(sum(i.memSize() for i in infos) / 2**20, 2))
    print(f"soak cached MB per pass: {cached_mb}")
    assert seen[1] == seen[2]
    assert seen[2]["active"] == []


def test_dedup_within_watermark(spark, tmp_path):
    """J5: a replayed duplicate file is fully deduplicated by event_id."""
    dup_dir = tmp_path / "dup_events"
    dup_dir.mkdir()
    t = pq.read_table(EVENTS)
    pq.write_table(t, dup_dir / "a.parquet")
    pq.write_table(t, dup_dir / "b.parquet")
    ev = runtime.stream_events(spark, str(dup_dir))
    out = runtime.run_to_memory(runtime.dedup_within_watermark(ev), "append")
    assert out.count() == t.num_rows


def test_stream_static_join(spark, events_dir):
    ev = runtime.stream_events(spark, events_dir)
    cust = load_table(spark, SF_DIR, "customer")
    out = runtime.run_to_memory(runtime.stream_static_join(ev, cust), "append")
    assert out.count() == 1000
    assert out.where(F.col("c_mktsegment").isNull()).count() == 0


def test_stateful_user_counters(spark, events_dir):
    """J6: applyInPandasWithState running counters — final counter per
    user equals the batch per-user count."""
    ev = runtime.stream_events(spark, events_dir)
    out = runtime.run_to_memory(runtime.running_user_counters(ev), "update")
    # update mode emits one row per user per batch; last value wins
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n"))
    batch = load_table(spark, SF_DIR, "events").groupBy("user_id").count()
    got = {r["user_id"]: r["n"] for r in final.collect()}
    want = {r["user_id"]: r["count"] for r in batch.collect()}
    assert got == want


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """J4: one query, maxFilesPerTrigger=1, file mtimes force the
    newest half to process first; the oldest half arrives behind the
    advanced watermark and is dropped from the append-mode output."""
    d = tmp_path / "late_events"
    d.mkdir()
    t = pq.read_table(EVENTS)
    order = pc.sort_indices(t.column("ts"))
    half = t.num_rows // 2
    newest = t.take(order.slice(half))
    oldest = t.take(order.slice(0, half))
    bridge = t.take(order.slice(t.num_rows - 1))  # single max-ts event
    pq.write_table(newest, d / "batch_1_new.parquet")
    pq.write_table(bridge, d / "batch_2_bridge.parquet")
    pq.write_table(oldest, d / "batch_3_old.parquet")
    # file source processes in mtime order — pin it explicitly. The
    # watermark computed from batch N takes effect in batch N+1, so the
    # bridge batch ensures the old file meets an already-advanced
    # watermark.
    os.utime(d / "batch_1_new.parquet", (1_000_000, 1_000_000))
    os.utime(d / "batch_2_bridge.parquet", (2_000_000, 2_000_000))
    os.utime(d / "batch_3_old.parquet", (3_000_000, 3_000_000))

    ev = runtime.stream_events(spark, str(d), max_files_per_trigger=1)
    out = runtime.run_to_memory(runtime.tumbling_counts(ev, watermark="1 hour"), "append")
    emitted = out.agg(F.sum("n")).collect()[0][0] or 0
    # every event of the oldest half is behind the watermark → dropped;
    # the newest half (+bridge) emits only windows sealed below the
    # final watermark
    assert 0 < emitted <= half + 1
    import pandas as pd

    min_ws = out.agg(F.min("ws")).collect()[0][0]
    newest_min_hour = pd.Timestamp(pc.min(newest.column("ts")).as_py()).floor("h")
    assert pd.Timestamp(min_ws.replace(tzinfo=None)) >= newest_min_hour


def test_streaming_parquet_sink_roundtrip(spark, events_dir, tmp_path):
    """A7: writeStream to a parquet sink (fault-tolerant, checkpointed)
    then read back as batch — counts and per-type totals must match."""
    ev = runtime.stream_events(spark, events_dir)
    out_dir = str(tmp_path / "out_parquet")
    q = (
        ev.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out_dir)
    src = load_table(spark, SF_DIR, "events")
    assert back.count() == src.count()
    got = {r["event_type"]: r["count"] for r in back.groupBy("event_type").count().collect()}
    want = {r["event_type"]: r["count"] for r in src.groupBy("event_type").count().collect()}
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Stream-stream join with watermarked state == the batch
    join_interval declared query on the same data."""
    from etl_builder_spark.operators.asof import join_interval

    ev = runtime.stream_events(spark, events_dir)
    out = runtime.run_to_memory(runtime.stream_stream_interval_join(ev), "append")
    got = sorted(
        (r["user_id"], r["signup_event_id"], r["purchase_event_id"]) for r in out.collect()
    )
    batch = join_interval(spark, SF_DIR).select(
        "user_id", "signup_event_id", "purchase_event_id"
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_watermark_drops_exact_late_row_count(spark, tmp_path):
    """J4 value-level check: deterministic three-file out-of-order
    replay (new → bridge → old, mtime-pinned, one file per batch)
    where the EXACT watermark-dropped count and the EXACT emitted row
    total are computed independently in pandas from the watermark
    algebra.  If late rows ever leaked into the windowed aggregate,
    both assertions fail.

    Two measured Spark behaviors the expectations encode:
    - the late filter in batch N uses the watermark in effect BEFORE
      batch N-1's update is applied, i.e. one batch of lag beyond the
      progress-reported value — hence the bridge file, which burns a
      batch so the old file meets an already-effective watermark;
    - ``numRowsDroppedByWatermark`` counts rows AFTER map-side partial
      aggregation, so the expected count is the number of distinct
      late (window, event_type) groups in the old file (one input
      partition per 500-row file → one partial row per group), not its
      raw row count.
    """
    import pandas as pd

    d = tmp_path / "late_exact"
    d.mkdir()
    t = pq.read_table(EVENTS)
    order = pc.sort_indices(t.column("ts"))
    half = t.num_rows // 2
    newest = t.take(order.slice(half))
    bridge = t.take(order.slice(t.num_rows - 1))  # re-sends the max-ts event
    oldest = t.take(order.slice(0, half))
    pq.write_table(newest, d / "a_new.parquet")
    pq.write_table(bridge, d / "b_bridge.parquet")
    pq.write_table(oldest, d / "c_old.parquet")
    for i, f in enumerate(["a_new.parquet", "b_bridge.parquet", "c_old.parquet"]):
        os.utime(d / f, (1_000_000 * (i + 1),) * 2)

    HOUR_US = 3_600_000_000
    # normalize to ns first: the corpus has shipped ts as both
    # timestamp[ns] and timestamp[us]; a bare astype(int64) would give
    # unit-dependent epochs
    us = (
        lambda tbl: pd.Series(tbl.column("ts").to_pandas())
        .astype("datetime64[ns]")
        .astype("int64")
        // 1_000
    )
    new_us, old_us = us(newest), us(oldest)
    # watermark from the new half (ms granularity, 1h delay); bridge and
    # old file cannot raise it, so this is also the final watermark
    wm_us = (int(new_us.max()) // 1_000 - 3_600_000) * 1_000
    win_end = lambda s: (s // HOUR_US) * HOUR_US + HOUR_US
    old_groups = pd.DataFrame(
        {
            "we": win_end(old_us),
            "et": oldest.column("event_type").to_pandas(),
        }
    ).drop_duplicates()
    expect_dropped = int((old_groups["we"] <= wm_us).sum())
    # emitted rows: events of sealed windows; every old group is late
    # (asserted below) so only the new half contributes, and the bridge
    # duplicate sits in the open max-ts window
    assert expect_dropped == len(old_groups), "fixture: all old groups must be late"
    expect_emitted = int((win_end(new_us) <= wm_us).sum())
    assert expect_dropped > 0 and expect_emitted > 0  # fixture sanity

    ev = runtime.stream_events(spark, str(d), max_files_per_trigger=1)
    out, progress = runtime.run_to_memory_with_progress(
        runtime.tumbling_counts(ev, watermark="1 hour"), "append"
    )
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    emitted = out.agg(F.sum("n")).collect()[0][0] or 0
    assert dropped == expect_dropped
    assert emitted == expect_emitted


def test_foreachbatch_sink_three_batches_and_idempotent(spark):
    """stream_foreachbatch_sink: the 3-file staging + maxFilesPerTrigger=1
    must produce exactly 3 batch_id directories, and re-writing a batch
    (simulated redelivery) must overwrite, not duplicate."""
    import glob

    from etl_builder_spark.registry import REGISTRY
    from etl_builder_spark.streaming.batch_twins import _staged_events_3files

    stage = _staged_events_3files(SF_DIR)
    assert len(glob.glob(os.path.join(stage, "*.parquet"))) == 3

    out = REGISTRY["stream_foreachbatch_sink"].fn(spark, SF_DIR)
    # the sink the query just read is its input_files' common parent
    files = out.inputFiles()
    assert files
    sink = files[0].split("/batch_id=")[0].removeprefix("file:")
    batch_dirs = sorted(glob.glob(os.path.join(sink, "batch_id=*")))
    assert len(batch_dirs) == 3, batch_dirs

    n_before = spark.read.parquet(sink).count()
    # redeliver batch 0: overwrite its directory with the same rows
    redelivered = spark.read.parquet(batch_dirs[0]).cache()
    n_b0 = redelivered.count()
    redelivered.write.mode("overwrite").parquet(batch_dirs[0])
    assert spark.read.parquet(sink).count() == n_before
    assert spark.read.parquet(batch_dirs[0]).count() == n_b0


def test_progress_complete_beyond_recent_cap(spark, tmp_path):
    """run_to_memory_with_progress must return EVERY micro-batch's
    progress, not just the last ``numRecentProgressUpdates`` — shrink
    the cap to 2, replay 4 micro-batches, and require 4 contiguous
    batch entries (the listener path; recentProgress alone would keep
    only 2)."""
    d = tmp_path / "many_batches"
    d.mkdir()
    t = pq.read_table(EVENTS)
    quarter = t.num_rows // 4
    for i in range(4):
        f = d / f"part_{i}.parquet"
        pq.write_table(t.slice(i * quarter, quarter), f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))

    key = "spark.sql.streaming.numRecentProgressUpdates"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        ev = runtime.stream_events(spark, str(d), max_files_per_trigger=1)
        _, progress = runtime.run_to_memory_with_progress(
            runtime.tumbling_counts(ev, watermark="100 days"), "complete"
        )
    finally:
        spark.conf.set(key, old) if old is not None else spark.conf.unset(key)

    batch_ids = [p["batchId"] for p in progress]
    assert batch_ids == list(range(len(batch_ids))), batch_ids
    assert len(batch_ids) >= 4, batch_ids
    assert sum(p.get("numInputRows", 0) for p in progress) == quarter * 4


def test_foreachbatch_crash_restart_from_checkpoint(spark, tmp_path):
    """Exactly-once-by-idempotence RECOVERY proof (A7): crash the query
    mid-stream — after batch 1's sink write but before its offset
    commit (the worst-case window: data written, progress not recorded)
    — then restart from the same checkpoint.  The restarted query must
    redeliver batch 1 (overwriting its own directory, not appending)
    and finish batch 2, leaving the sink exactly equal to the batch
    oracle with one directory per batch and zero duplicates."""
    import glob

    from etl_builder_spark.policy import money
    from etl_builder_spark.session import load_table
    from etl_builder_spark.streaming.batch_twins import _staged_events_3files
    from etl_builder_spark.streaming.runtime import stream_events

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stage = _staged_events_3files(SF_DIR)
    crash = {"armed": True}

    def write_batch(batch, batch_id):
        # write FIRST, then fail — so batch 1's data lands in the sink
        # but its offset is never committed: a genuine torn batch
        batch.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        if crash["armed"] and batch_id == 1:
            raise RuntimeError("injected crash: batch written, offset uncommitted")

    def start_query():
        events = stream_events(spark, stage, max_files_per_trigger=1)
        purchases = events.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", money("value").cast("double").alias("value_2dp")
        )
        return (
            purchases.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    try:
        q1.awaitTermination(120)
    except Exception:
        pass
    assert q1.exception() is not None, "query should have died on the injected crash"
    # torn state on disk: batches 0 and 1 written, batch 2 never ran
    dirs_after_crash = sorted(glob.glob(os.path.join(sink, "batch_id=*")))
    assert len(dirs_after_crash) == 2, dirs_after_crash

    crash["armed"] = False
    q2 = start_query()
    q2.awaitTermination(120)
    assert q2.exception() is None

    batch_dirs = sorted(glob.glob(os.path.join(sink, "batch_id=*")))
    assert len(batch_dirs) == 3, batch_dirs
    got = (
        spark.read.parquet(sink)
        .select("event_id", "user_id", "ts", "value_2dp")
        .collect()
    )
    want = (
        load_table(spark, SF_DIR, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", money("value").cast("double").alias("value_2dp"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # no duplicates: the redelivered batch overwrote, never appended
    assert len({r["event_id"] for r in got}) == len(got)


def test_merge_sink_crash_restart_from_checkpoint(spark, tmp_path):
    """Versioned-snapshot MERGE recovery: crash after batch 1's
    snapshot v1 is WRITTEN but before its offset commits, restart from
    the checkpoint.  The redelivered batch must fold v0 again (never
    its own torn v1) and overwrite v1 identically, and the final
    snapshot must equal the whole-corpus batch aggregate — the
    idempotence argument of runtime.merge_snapshot_batch, proven."""
    import glob

    from etl_builder_spark.session import load_table
    from etl_builder_spark.streaming.batch_twins import _staged_events_3files
    from etl_builder_spark.streaming.runtime import (
        merge_snapshot_batch,
        stream_events,
    )

    target = str(tmp_path / "target")
    os.makedirs(target)
    ckpt = str(tmp_path / "ckpt")
    stage = _staged_events_3files(SF_DIR)
    crash = {"armed": True}

    def upsert(batch, batch_id):
        merge_snapshot_batch(batch, batch_id, target)
        if crash["armed"] and batch_id == 1:
            raise RuntimeError("injected crash: snapshot written, offset uncommitted")

    def start_query():
        events = stream_events(spark, stage, max_files_per_trigger=1)
        return (
            events.select("user_id", "ts", "event_id", "value")
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    try:
        q1.awaitTermination(120)
    except Exception:
        pass
    assert q1.exception() is not None
    assert sorted(os.listdir(target)) == ["v0", "v1"]  # torn: v1 written, uncommitted

    crash["armed"] = False
    q2 = start_query()
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert sorted(os.listdir(target)) == ["v0", "v1", "v2"]

    got = {
        r["user_id"]: (r["n_events"], r["last_key"])
        for r in spark.read.parquet(os.path.join(target, "v2")).collect()
    }
    e = load_table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: (r["n_events"], r["last_key"])
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.concat(
                    F.format_string("%020d%010d", F.unix_micros("ts"), F.col("event_id")),
                    F.format_string("%.2f", F.col("value")),
                )
            ).alias("last_key"),
        )
        .collect()
    }
    assert got == want


def test_dedup_watermark_crash_restart_from_checkpoint(spark, tmp_path):
    """VERDICT r11 item 6: `dropDuplicatesWithinWatermark` STATE must
    survive a driver restart.  Three-file replay (the full events file
    delivered three times, maxFilesPerTrigger=1) with a crash injected
    after batch 1's sink write but before its offset commit; restart
    from the same checkpoint.  If the dedup state store were lost on
    restart, the redelivered duplicate files would re-emit all 1000
    events — so the teeth are: (a) the restarted query resumes at
    batch 1, never re-running batch 0; (b) the reconciled sink holds
    exactly the distinct event set, zero duplicates, zero losses."""
    import glob

    src_dir = tmp_path / "dup3"
    src_dir.mkdir()
    t = pq.read_table(EVENTS)
    for i, name in enumerate(["a", "b", "c"]):
        p = src_dir / f"{name}.parquet"
        pq.write_table(t, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    crash = {"armed": True}
    seen_batches = []

    def write_batch(batch, batch_id):
        seen_batches.append(batch_id)
        batch.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        if crash["armed"] and batch_id == 1:
            raise RuntimeError("injected crash: batch written, offset uncommitted")

    def start_query():
        ev = runtime.stream_events(spark, str(src_dir), max_files_per_trigger=1)
        deduped = (
            ev.withWatermark("ts", "100 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "user_id", "event_type")
        )
        return (
            deduped.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    try:
        q1.awaitTermination(120)
    except Exception:
        pass
    assert q1.exception() is not None, "query should have died on the injected crash"
    assert seen_batches == [0, 1]

    crash["armed"] = False
    q2 = start_query()
    q2.awaitTermination(120)
    assert q2.exception() is None
    # offsets recovered: batch 0 never re-ran, batch 1 was redelivered
    assert seen_batches == [0, 1, 1, 2]
    assert len(glob.glob(os.path.join(sink, "batch_id=*"))) == 3

    got = spark.read.parquet(sink).drop("batch_id").collect()
    assert len(got) == t.num_rows, "dedup state lost across restart (duplicates re-emitted)"
    assert len({r["event_id"] for r in got}) == t.num_rows
    want = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_watermark_drop_crash_restart_from_checkpoint(spark, tmp_path):
    """VERDICT r11 item 6: the WATERMARK itself must survive a driver
    restart.  The timesplit replay (newest slice first) advances the
    watermark in batch 0; the crash lands after batch 1's write,
    before its offset commits; the restarted query then processes
    batch 2 — the old slice, entirely below the batch-0 watermark.  If
    restart recovery re-derived the watermark from scratch (reset to
    0), slice c would be aggregated and its windows would appear in
    the update-mode output; instead the reconciled last-wins state
    must equal the survivor-boundary batch aggregate — the same
    equality the declared key's oracle checks, now proven across a
    kill-and-resume."""
    import glob

    from etl_builder_spark.policy import money
    from etl_builder_spark.streaming.batch_twins import (
        SPLIT_LO_DAYS,
        SPLIT_WATERMARK,
        _staged_events_timesplit,
    )

    stage = _staged_events_timesplit(SF_DIR)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    crash = {"armed": True}
    seen_batches = []

    def write_batch(batch, batch_id):
        seen_batches.append(batch_id)
        batch.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        if crash["armed"] and batch_id == 1:
            raise RuntimeError("injected crash: batch written, offset uncommitted")

    def start_query():
        ev = runtime.stream_events(spark, stage, max_files_per_trigger=1)
        agg = (
            ev.withWatermark("ts", SPLIT_WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(money("value")).cast("double").alias("total_value"),
            )
            .select(F.col("w.start").alias("ws"), "n", "total_value")
        )
        return (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    try:
        q1.awaitTermination(120)
    except Exception:
        pass
    assert q1.exception() is not None
    assert seen_batches == [0, 1]

    crash["armed"] = False
    q2 = start_query()
    q2.awaitTermination(120)
    assert q2.exception() is None
    assert seen_batches == [0, 1, 1, 2]
    assert len(glob.glob(os.path.join(sink, "batch_id=*"))) == 3

    # last-wins reconciliation of the update-mode stream: for each
    # window, the row from the highest batch_id is the final state
    from pyspark.sql import Window as W

    raw = spark.read.parquet(sink)
    latest = (
        raw.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("ws").orderBy(F.col("batch_id").desc())),
        )
        .where(F.col("rn") == 1)
        .select("ws", "n", "total_value")
    )
    got = {r["ws"]: (r["n"], round(r["total_value"], 2)) for r in latest.collect()}

    e = load_table(spark, SF_DIR, "events")
    boundary = e.agg(
        F.date_trunc("day", F.max("ts")) - F.expr(f"INTERVAL {SPLIT_LO_DAYS} DAYS")
    ).collect()[0][0]
    want_rows = (
        e.where(F.col("ts") >= F.lit(boundary))
        .groupBy(F.date_trunc("hour", "ts").alias("ws"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .collect()
    )
    want = {r["ws"]: (r["n"], round(r["total_value"], 2)) for r in want_rows}
    assert got == want, (
        "watermark state not recovered: dropped slice leaked into post-restart output"
        if len(got) > len(want)
        else f"post-restart output incomplete: {len(got)} vs {len(want)} windows"
    )


def test_stateful_counters_crash_restart_from_checkpoint(spark, tmp_path):
    """VERDICT r12 item 6: applyInPandasWithState GroupState must
    survive a driver restart — checkpoint recovery is exactly where
    silent state loss would hide.  The events table is split into
    three DISJOINT row slices (maxFilesPerTrigger=1 → three
    micro-batches, so per-user counters genuinely accumulate across
    batches); the crash lands after batch 1's sink write but before
    its offset commits; the restarted query must resume at batch 1
    with batch 0's state intact.  Teeth: if the state store were
    reset on restart, every user seen in batch 0 would end with a
    counter missing its batch-0 contribution — the final reconciled
    counters must hash-equal the batch per-user counts exactly."""
    import glob

    src_dir = tmp_path / "split3"
    src_dir.mkdir()
    t = pq.read_table(EVENTS)
    third = t.num_rows // 3
    slices = [
        t.slice(0, third),
        t.slice(third, third),
        t.slice(2 * third),
    ]
    for i, sl in enumerate(slices):
        p = src_dir / f"part_{i}.parquet"
        pq.write_table(sl, p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    crash = {"armed": True}
    seen_batches = []

    def write_batch(batch, batch_id):
        seen_batches.append(batch_id)
        batch.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        if crash["armed"] and batch_id == 1:
            raise RuntimeError("injected crash: batch written, offset uncommitted")

    def start_query():
        ev = runtime.stream_events(spark, str(src_dir), max_files_per_trigger=1)
        return (
            runtime.running_user_counters(ev)
            .writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start_query()
    try:
        q1.awaitTermination(120)
    except Exception:
        pass
    assert q1.exception() is not None, "query should have died on the injected crash"
    assert seen_batches == [0, 1]

    crash["armed"] = False
    q2 = start_query()
    q2.awaitTermination(120)
    assert q2.exception() is None
    # offsets recovered: batch 0 never re-ran, batch 1 was redelivered
    # (recomputed from the RECOVERED batch-0 state), then batch 2 ran
    assert seen_batches == [0, 1, 1, 2]
    assert len(glob.glob(os.path.join(sink, "batch_id=*"))) == 3

    # last-wins reconciliation: each user's final counter is the row
    # from the highest batch_id that emitted it
    from pyspark.sql import Window as W

    raw = spark.read.parquet(sink)
    latest = (
        raw.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
            ),
        )
        .where(F.col("rn") == 1)
        .select("user_id", "n_events")
    )
    got = {r["user_id"]: r["n_events"] for r in latest.collect()}
    batch = load_table(spark, SF_DIR, "events").groupBy("user_id").count()
    want = {r["user_id"]: r["count"] for r in batch.collect()}
    assert got == want, "GroupState lost across restart: counters reset mid-stream"


def test_replay_state_partitions_sized_from_input(spark, events_dir):
    """A replay over a small directory runs its state on one partition,
    whatever the session's shuffle count, and leaves that count as it
    found it."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert int(before) > 1
    ev = runtime.stream_events(spark, events_dir)
    _, progress = runtime.run_to_memory_with_progress(
        runtime.tumbling_counts(ev, watermark="100 days"), "complete"
    )
    ops = [op for p in progress for op in p["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {1}, ops
    assert spark.conf.get(key) == before


def test_replay_restores_shuffle_count_when_start_raises(spark, events_dir):
    """An append-mode aggregation without a watermark fails in
    ``start()``; the session's shuffle count is restored all the same."""
    from pyspark.errors import AnalysisException

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    ev = runtime.stream_events(spark, events_dir)
    with pytest.raises(AnalysisException):
        runtime.run_to_memory(ev.groupBy("event_type").count(), "append")
    assert spark.conf.get(key) == before
    assert spark.streams.active == []


def test_state_partitions_rule():
    """One state partition per advisory size of input, clamped to
    [1, shuffle]: an input of shuffle x advisory bytes or more keeps
    the global count."""
    mb64 = 64 << 20
    assert runtime.state_partitions(0, mb64, 8) == 1
    assert runtime.state_partitions(100_000, mb64, 8) == 1
    assert runtime.state_partitions(mb64 + 1, mb64, 8) == 2
    assert runtime.state_partitions(8 * mb64, mb64, 8) == 8
    assert runtime.state_partitions(100 * mb64, mb64, 8) == 8


def test_stream_events_probes_footer_once_per_directory_version(spark, tmp_path, monkeypatch):
    """Two replays of one directory read its parquet schema once; a file
    added to the directory makes the next call read it again."""
    from pyspark.sql.readwriter import DataFrameReader

    d = tmp_path / "probe_once"
    d.mkdir()
    shutil.copy(EVENTS, d / "part_0.parquet")
    probes = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        probes.extend(p for p in paths if p == str(d))
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    for _ in range(2):
        runtime.stream_events(spark, str(d))
    assert len(probes) == 1
    shutil.copy(EVENTS, d / "part_1.parquet")
    ev = runtime.stream_events(spark, str(d))
    assert len(probes) == 2
    assert runtime.run_to_memory(ev.groupBy().count(), "complete").collect()[0][0] == 2000
