"""The benchmark's workloads.

Registry keys run from a seed-shuffled mix, each checked against its
DuckDB oracle.  ``curate_ingest_cold`` adds a fixed sequence of steps
through the streaming runtime, the writers and the declarative
pipeline compiler, each checked against DuckDB over the same files.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

#: corpus size shared by both workloads: TPC-H-ish tables at this scale
#: factor (lineitem 60k rows, events 10k) and 500 base documents and
#: embeddings — small enough that fixed per-query costs dominate
SF = 0.01
N_DOCS = N_VECS = 500


@dataclass(frozen=True)
class Workload:
    name: str
    #: ×copies of the documents/embeddings corpus
    copies: int = 1
    stream_files: int = 0
    keys: tuple[str, ...] = ()
    #: clear Spark's cache before every op, so no op reuses another's
    #: persisted frames
    cold: bool = False
    #: ops run before timing (None: every op), ``warmup_passes`` times;
    #: whole passes fill the caches a warm workload reuses and let the
    #: JIT settle before the measured passes
    warmup: tuple[str, ...] | None = None
    warmup_passes: int = 1
    #: measured passes at least, however long they take
    min_passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_interactive",
            # the first pass costs ~3 later ones; op latency still falls
            # ~15% from the 3rd to the 5th pass, but longer warm-up would
            # not fit the run's time on a busy host
            warmup_passes=2,
            min_passes=3,
            keys=(
                "tpch_q3_shipping_priority",
                "tpch_q6_forecast_revenue",
                "tpch_q13_order_distribution",
                "tpch_q18_large_orders",
                "agg_pricing_summary",
                "win_topk_per_group",
                "join_asof",
                "topk_global",
                "fn_json",
                "dq_null_profile",
                "udf_pandas_scalar",
            ),
        ),
        Workload(
            "curate_ingest_cold",
            copies=2,
            stream_files=2,
            cold=True,
            min_passes=2,
            # every LLM key once (each has code of its own to compile),
            # one streaming query and one write
            warmup=(
                "dedup_exact_normalized",
                "dedup_minhash_exact",
                "text_tfidf_sql",
                "sim_topk_cosine_sql",
                "embed_normalize_quantize",
                "stream_tumbling_counts",
                "write_parquet_partitioned",
            ),
            keys=(
                "dedup_exact_normalized",
                "dedup_minhash_exact",
                "text_tfidf_sql",
                "sim_topk_cosine_sql",
                "embed_normalize_quantize",
            ),
        ),
    )
}


#: DuckDB oracle of each ingest step whose output is a query result,
#: over the split events files (``events_stream``) and the corpus tables
INGEST_ORACLES = {
    "stream_tumbling_counts":
        "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type, count(*) AS n "
        "FROM events_stream GROUP BY ALL",
    "stream_dedup_within_watermark": "SELECT DISTINCT event_id FROM events_stream",
    "stream_session_counts":
        "WITH b AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE "
        "THEN 0 ELSE 1 END AS brk FROM events_stream WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM b) "
        "SELECT user_id, min(ts) AS session_start, count(*) AS n_events FROM s GROUP BY user_id, sid",
    "compile_spec_readback":
        "SELECT l_returnflag, o_orderpriority, count(*) AS n, sum(l_quantity) AS qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY ALL",
}


def table_rows(corpus_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(corpus_dir, f"{table}.parquet")).metadata.num_rows


def oracle_tables(sql: str, tables) -> list[str]:
    """Corpus tables an oracle query names: the inputs its key reads."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and count of the parquet data files under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


@dataclass
class StepResult:
    rows_in: int
    #: called after timing; returns None when the output is right
    verify: Callable[[], str | None]
    #: data files written by the step (parquet files under these dirs)
    outputs: tuple[str, ...] = ()
    #: parquet input the written bytes are compared to
    input_bytes: int = 0


class Ingest:
    """Ingest steps of ``curate_ingest_cold``: replay the split events
    stream into three stateful queries and a foreachBatch sink, write
    lineitem and orders three ways, and read the written files back
    through one ``compile_spec`` pipeline."""

    LAYERS = {
        "stream_tumbling_counts": "streaming",
        "stream_dedup_within_watermark": "streaming",
        "stream_session_counts": "streaming",
        "stream_foreach_batch_sink": "streaming",
        "write_parquet_partitioned": "sources",
        "write_parquet_sorted": "sources",
        "write_bucketed_table": "sources",
        "compile_spec_readback": "plans",
    }

    def __init__(self, spark, corpus_dir: str, out_dir: str, warehouse_dir: str, expected: dict):
        self.spark = spark
        self.corpus = corpus_dir
        self.stream_dir = os.path.join(corpus_dir, "events_stream")
        self.out = out_dir
        self.warehouse = warehouse_dir
        self.n_events = table_rows(corpus_dir, "events")
        self.n_line = table_rows(corpus_dir, "lineitem")
        self.n_ord = table_rows(corpus_dir, "orders")
        from check import connect

        self.con = connect({
            "events_stream": os.path.join(self.stream_dir, "*.parquet"),
            "lineitem": os.path.join(corpus_dir, "lineitem.parquet"),
            "orders": os.path.join(corpus_dir, "orders.parquet"),
        })
        #: canonical oracle results of the INGEST_ORACLES steps
        self.expected = expected
        #: seconds spent inside compile_spec, summed over passes
        self.compile_s = 0.0

    def close(self) -> None:
        self.con.close()

    def steps(self):
        return [(name, self.LAYERS[name], getattr(self, name)) for name in self.LAYERS]

    def _check(self, pdf, step: str):
        from check import mismatch

        return mismatch(pdf, self.expected[step])

    def _replay(self, step: str, build, mode: str) -> StepResult:
        from etl_builder_spark.streaming.runtime import run_to_memory_with_progress, stream_events

        events = stream_events(self.spark, self.stream_dir, max_files_per_trigger=1)
        out, _ = run_to_memory_with_progress(build(events), mode)
        return StepResult(self.n_events, lambda: self._check(out.toPandas(), step))

    def stream_tumbling_counts(self, i: int) -> StepResult:
        from etl_builder_spark.streaming.runtime import tumbling_counts

        return self._replay("stream_tumbling_counts", tumbling_counts, "complete")

    def stream_dedup_within_watermark(self, i: int) -> StepResult:
        from etl_builder_spark.streaming.runtime import dedup_within_watermark

        return self._replay(
            "stream_dedup_within_watermark", lambda ev: dedup_within_watermark(ev).select("event_id"), "append"
        )

    def stream_session_counts(self, i: int) -> StepResult:
        from etl_builder_spark.streaming.runtime import session_counts

        return self._replay("stream_session_counts", session_counts, "complete")

    def stream_foreach_batch_sink(self, i: int) -> StepResult:
        from etl_builder_spark.streaming.runtime import foreach_batch_parquet_sink, stream_events

        sink = os.path.join(self.out, f"sink_{i}")
        ckpt = os.path.join(self.out, f"sink_ckpt_{i}")
        events = stream_events(self.spark, self.stream_dir, max_files_per_trigger=1)
        foreach_batch_parquet_sink(events, sink, ckpt)
        return StepResult(
            self.n_events,
            lambda: self._same(f"{sink}/*/*.parquet", "count(*), sum(event_id)", "events_stream"),
            outputs=(sink,),
            input_bytes=dir_bytes_files(self.stream_dir)[0],
        )

    def _same(self, glob: str, aggs: str, source: str, hive: bool = False) -> str | None:
        """Compare aggregates over written files with the same
        aggregates over their source."""
        opts = ", hive_partitioning = true" if hive else ""
        got = self.con.execute(f"SELECT {aggs} FROM read_parquet('{glob}'{opts})").fetchall()
        want = self.con.execute(f"SELECT {aggs} FROM {source}").fetchall()
        return None if got == want else f"{got} != {want}"

    def _table(self, name: str):
        from etl_builder_spark.session import load_table

        return load_table(self.spark, self.corpus, name)

    def write_parquet_partitioned(self, i: int) -> StepResult:
        from etl_builder_spark.sources.writers import write_parquet_partitioned

        path = os.path.join(self.out, "li_part.parquet")
        write_parquet_partitioned(self._table("lineitem"), path, ("l_returnflag",))
        return StepResult(
            self.n_line,
            lambda: self._same(
                f"{path}/*/*.parquet",
                "count(*), sum(l_orderkey), sum(l_quantity), count(DISTINCT l_returnflag)",
                "lineitem", hive=True,
            ),
            outputs=(path,),
            input_bytes=os.path.getsize(os.path.join(self.corpus, "lineitem.parquet")),
        )

    def write_parquet_sorted(self, i: int) -> StepResult:
        from etl_builder_spark.sources.writers import write_parquet_sorted

        path = os.path.join(self.out, "ord_sorted.parquet")
        write_parquet_sorted(self._table("orders"), path, ("o_orderdate",), n_files=4)
        return StepResult(
            self.n_ord,
            lambda: self._same(
                f"{path}/*.parquet",
                "count(*), sum(o_orderkey), sum(CAST(round(o_totalprice * 100) AS BIGINT))",
                "orders",
            ),
            outputs=(path,),
            input_bytes=os.path.getsize(os.path.join(self.corpus, "orders.parquet")),
        )

    def write_bucketed_table(self, i: int) -> StepResult:
        from etl_builder_spark.sources.writers import write_bucketed_table

        write_bucketed_table(self._table("lineitem"), "perfbench_li_bucketed", ("l_orderkey",), 8)
        path = os.path.join(self.warehouse, "perfbench_li_bucketed")
        return StepResult(
            self.n_line,
            lambda: self._same(f"{path}/*.parquet", "count(*), sum(l_orderkey), sum(l_quantity)", "lineitem"),
            outputs=(path,),
            input_bytes=os.path.getsize(os.path.join(self.corpus, "lineitem.parquet")),
        )

    SPEC = {
        "source": "li_part",
        "ops": [
            {"op": "join", "table": "ord_sorted", "on": "l_orderkey = o_orderkey"},
            {"op": "agg", "by": ["l_returnflag", "o_orderpriority"],
             "aggs": {"n": "count(*)", "qty": "sum(l_quantity)"}},
        ],
    }

    def compile_spec_readback(self, i: int) -> StepResult:
        from etl_builder_spark.plans.pipeline import compile_spec

        t0 = time.perf_counter()
        df = compile_spec(self.spark, self.out, self.SPEC)
        self.compile_s += time.perf_counter() - t0
        pdf = df.toPandas()
        return StepResult(self.n_line + self.n_ord, lambda: self._check(pdf, "compile_spec_readback"))

    def reset(self, i: int) -> None:
        """Drop the previous pass's sink so output stays bounded."""
        for name in (f"sink_{i - 1}", f"sink_ckpt_{i - 1}"):
            shutil.rmtree(os.path.join(self.out, name), ignore_errors=True)
