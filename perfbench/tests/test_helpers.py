"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import statistics

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import gen
from check import canon_rows, mismatch
from metrics import END_TO_END, PER_LAYER, layer_of
from run import streaming_metrics
from stats import percentile, samples_beyond, self_time, tail_supported
from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentiles and the sample-count rule ------------------------------------
def test_percentile_interpolates_between_order_statistics():
    xs = list(range(1, 11))
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(list(range(101)), 95) == pytest.approx(95.0)
    assert percentile(list(range(11)), 25) == pytest.approx(2.5)
    assert percentile([2.0], 95) == 2.0


def test_percentile_median_is_the_sample_median():
    rng = random.Random(4)
    for n in (2, 7, 36):
        ys = [rng.random() for _ in range(n)]
        assert percentile(ys, 50) == pytest.approx(statistics.median(ys))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0, 2.0], 100)


def test_tail_needs_ten_samples_beyond():
    assert samples_beyond(200, 95) == 10
    assert tail_supported(200, 95)
    assert not tail_supported(199, 95)
    assert tail_supported(20, 50)
    assert not tail_supported(19, 50)
    assert tail_supported(1000, 99)


# -- span self time ------------------------------------------------------------
def test_self_time_without_children_is_duration():
    assert self_time((1.0, 4.0), []) == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once():
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_span():
    assert self_time((2.0, 5.0), [(0.0, 3.0), (4.0, 9.0), (6.0, 8.0)]) == pytest.approx(1.0)


def test_tracer_self_time_excludes_child_spans():
    tr = Tracer(spark=None)
    tr.add_span("build", 0.0, 1.0)
    parent = tr.spans[-1]
    tr.add_span("session.load_table", 0.2, 0.5, parent=parent)
    tr.add_span("build", 2.0, 2.5)
    assert tr.span_seconds("build") == pytest.approx(1.5)
    assert tr.span_seconds("build", exclude_children=True) == pytest.approx(1.2)


# -- table memo hits ------------------------------------------------------------
def _memo_load_table(session):
    """A stand-in for session.load_table with the same memo contract."""
    def load_table(spark, sf_dir, name):
        key = (sf_dir, name)
        if key not in session._TABLE_CACHE:
            session._TABLE_CACHE[key] = object()
        return session._TABLE_CACHE[key]

    return load_table


def _hit_ratio(tr):
    return tr.counts["load_table_hits"] / tr.counts["load_table_calls"]


def test_memo_hits_count_frames_memoised_before_tracing(monkeypatch):
    from etl_builder_spark import session

    monkeypatch.setattr(session, "_TABLE_CACHE", {})
    monkeypatch.setattr(session, "load_table", _memo_load_table(session))
    for name in ("lineitem", "orders"):  # an earlier, untraced pass
        session.load_table(None, "sf", name)
    tr = Tracer(spark=None)
    tr._wrap_load_table()
    try:
        for name in ("lineitem", "orders", "lineitem"):
            session.load_table(None, "sf", name)
    finally:
        tr.uninstall()
    assert tr.counts["load_table_calls"] == 3
    assert _hit_ratio(tr) == 1.0


def test_memo_misses_count_frames_the_call_created(monkeypatch):
    from etl_builder_spark import session

    monkeypatch.setattr(session, "_TABLE_CACHE", {})
    monkeypatch.setattr(session, "load_table", _memo_load_table(session))
    tr = Tracer(spark=None)
    tr._wrap_load_table()
    try:
        for name in ("lineitem", "lineitem", "orders", "orders"):
            session.load_table(None, "sf", name)
    finally:
        tr.uninstall()
    assert _hit_ratio(tr) == 0.5


# -- result comparison ---------------------------------------------------------
def _expected(pdf):
    return json.loads(json.dumps(canon_rows(pdf)))


def test_mismatch_ignores_row_and_column_order():
    want = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    got = pd.DataFrame({"b": ["z", "x", "y"], "a": [3, 1, 2]})
    assert mismatch(got, _expected(want)) is None


def test_mismatch_reports_value_count_and_column_differences():
    want = _expected(pd.DataFrame({"a": [1, 2], "b": [0.5, 1.5]}))
    assert "row" in mismatch(pd.DataFrame({"a": [1, 2], "b": [0.5, 1.25]}), want)
    assert "rows" in mismatch(pd.DataFrame({"a": [1], "b": [0.5]}), want)
    assert "columns" in mismatch(pd.DataFrame({"a": [1, 2], "c": [0.5, 1.5]}), want)


def test_mismatch_is_dtype_sensitive_like_the_oracle_gate():
    want = _expected(pd.DataFrame({"n": [148]}))
    assert mismatch(pd.DataFrame({"n": [148.0]}), want) is not None


def test_mismatch_accepts_empty_results():
    want = _expected(pd.DataFrame({"a": pd.Series([], dtype="int64")}))
    assert mismatch(pd.DataFrame({"a": pd.Series([], dtype="int64")}), want) is None


# -- metrics and BENCHMARK.json -------------------------------------------------
def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert max(m["bound"] for m in bench["end_to_end"]) == dict(
        (m["name"], m["bound"]) for m in bench["end_to_end"]
    )["setup_s"]


def test_layer_of_registry_modules():
    assert layer_of("etl_builder_spark.llm.dedup") == "llm"
    assert layer_of("etl_builder_spark.operators.tpch") == "operators"
    assert layer_of("etl_builder_spark.quality") == "quality"
    assert layer_of("etl_builder_spark.udfs") == "udfs"


def test_streaming_metrics_sum_batches_and_take_last_state():
    def prog(run, batch, trig, rows):
        return {"runId": run, "batchId": batch,
                "durationMs": {"triggerExecution": trig, "queryPlanning": 10, "addBatch": 100,
                               "commitOffsets": 5, "walCommit": 5},
                "stateOperators": [{"numRowsTotal": rows, "memoryUsedBytes": 10 * rows}]}

    m = streaming_metrics([prog("q1", 0, 400, 3), prog("q1", 1, 600, 5), prog("q2", 0, 500, 7)])
    assert m["streaming.batches"] == 3
    assert m["streaming.batch_p50_s"] == pytest.approx(0.5)
    assert m["streaming.add_batch_s"] == pytest.approx(0.3)
    assert m["streaming.commit_s"] == pytest.approx(0.03)
    assert m["streaming.state_rows"] == 12
    assert m["streaming.state_mem_bytes"] == 120


# -- input generator ------------------------------------------------------------
def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.corpus(str(tmp_path / "a"), 5, 0.001, 60, 40, copies=2, stream_files=2)
    b = gen.corpus(str(tmp_path / "b"), 5, 0.001, 60, 40, copies=2, stream_files=2)
    c = gen.corpus(str(tmp_path / "c"), 6, 0.001, 60, 40, copies=2, stream_files=2)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert set(ta) >= {"lineitem.parquet", "orders.parquet", "events.parquet", "documents.parquet"}
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["lineitem.parquet"].equals(tc["lineitem.parquet"])
    assert _tables(os.path.join(a, "events_stream")).keys() == {"part-0000.parquet", "part-0001.parquet"}


def test_generator_copies_rename_tokens_and_offset_ids(tmp_path):
    d = gen.corpus(str(tmp_path / "c"), 1, 0.001, 30, 20, copies=2)
    docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
    vecs = pq.read_table(os.path.join(d, "embeddings.parquet")).to_pandas()
    assert len(docs) == 60 and len(vecs) == 40
    base, copy = docs[docs.doc_id < gen.DOC_COPY_STRIDE], docs[docs.doc_id >= gen.DOC_COPY_STRIDE]
    assert set(" ".join(base.text).split()) <= set(gen.VOCAB)
    assert not set(" ".join(copy.text).split()) & set(gen.VOCAB)
    assert (base.text.str.split().str.len().values == copy.text.str.split().str.len().values).all()
    norms = np.linalg.norm(np.stack(vecs.embedding.values), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)
