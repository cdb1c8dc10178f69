#!/usr/bin/env python3
"""Benchmark of the etl_builder_spark engine.

    python3 perfbench/run.py --workload olap_interactive --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py):

* ``olap_interactive`` — one long-lived session, one client, closed
  loop: a mix of relational registry keys in seed-shuffled pass order,
  caches warm across passes.
* ``curate_ingest_cold`` — LLM dedup/text/embedding keys over a ×2
  documents+embeddings corpus, then a split events stream replayed
  through three stateful queries and a foreachBatch sink, three table
  writes and one declarative pipeline reading the written files back;
  the cache is cleared before every op.

Every op's output is checked.  A run first generates its inputs from
the seed and computes their DuckDB oracle results in a child process
(prepare.py), then sets up the engine in this fresh process (timed as
``setup_s``), warms up, and measures whole passes over the workload's
ops: at least the workload's fixed pass count, and more only while
``--seconds`` have not passed.  Latency percentiles are taken over
every op of the measured passes.  With ``--trace 0`` the run prints
the end-to-end metrics; with ``--trace 1`` it runs one traced pass and
prints the per-layer metrics.  The last line of standard output is
the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

The line before it carries run descriptors (host, versions, the
range(100M)-sum host-speed probe, input generation time, sample
counts, the time of each phase of the run, the JVM and Python parts of
the peak memory, and in traced runs the op time per layer).  Generated
inputs, Spark scratch space and traced spans go under
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict

import boot
from metrics import EXEC_LAYERS, UNITS, layer_of
from stats import percentile, tail_supported
from workloads import WORKLOADS, Ingest, StepResult, dir_bytes_files

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_info(spark) -> dict:
    import duckdb
    import pyarrow

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": sys.version.split()[0],
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "arrow": pyarrow.__version__,
    }


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident memory of the driver JVM and of this process (input
    generation and the oracles ran in a child process)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return {"jvm": jvm_kb / 1024, "python": py_kb / 1024}


class Bench:
    def __init__(self, spark, workload, seed: int):
        self.spark = spark
        self.w = workload
        self.seed = seed
        self.run_dir = os.path.join(WORK, "run")
        self.ingest = None
        self.tracer = None
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        #: latencies of the ops that succeeded, by op name
        self.op_s: dict[str, list[float]] = {}
        self.rows_in = 0
        self.info: dict = {}

    # -- inputs --------------------------------------------------------
    def prepare(self) -> None:
        """Load what prepare.py left in the run directory."""
        from etl_builder_spark.registry import REGISTRY

        with open(os.path.join(self.run_dir, "expected.json")) as fh:
            prep = json.load(fh)
        self.corpus = os.path.join(self.run_dir, "data")
        self.specs = {k: REGISTRY[k] for k in self.w.keys}
        self.expected = prep["expected"]
        self.key_rows = prep["rows_in"]
        if self.w.stream_files:
            out = os.path.join(self.run_dir, "out")
            os.makedirs(out, exist_ok=True)
            self.ingest = Ingest(self.spark, self.corpus, out, os.path.join(self.run_dir, "warehouse"),
                                 self.expected)
        self.info.update(gen_s=prep["gen_s"], oracle_s=prep["oracle_s"])

    def close(self) -> None:
        if self.ingest is not None:
            self.ingest.close()

    def warm_up(self) -> None:
        """Run the workload's warm-up ops, then forget their outcomes."""
        for _ in range(self.w.warmup_passes):
            self.run_pass(0, self.w.warmup)
        self.attempted = self.failed = self.rows_in = 0
        self.op_s.clear()
        self.errors.clear()
        if self.ingest is not None:
            self.ingest.compile_s = 0.0

    # -- ops -----------------------------------------------------------
    def _fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(f"{what}: {why}"[:300])

    def ops(self, i: int) -> list:
        """Pass ``i``: the registry keys in seed-shuffled order, then the
        ingest steps in their fixed order."""
        keys = list(self.w.keys)
        random.Random(f"{self.seed}:{i}").shuffle(keys)
        ops = [(k, layer_of(self.specs[k].fn.__module__), lambda k=k: self._query(k)) for k in keys]
        if self.ingest is not None:
            ops += [(name, layer, lambda step=step: step(i)) for name, layer, step in self.ingest.steps()]
        return ops

    def run_pass(self, i: int, only: tuple[str, ...] | None = None) -> float:
        """Run every op of pass ``i`` (or those named in ``only``);
        return the wall time."""
        t0 = time.perf_counter()
        for name, layer, fn in self.ops(i):
            if only is None or name in only:
                if self.w.cold:
                    self.spark.catalog.clearCache()
                self._op(name, layer, fn)
        if self.ingest is not None:
            self.ingest.reset(i)
        return time.perf_counter() - t0

    def _query(self, key: str):
        """One registry query: build, then fetch every Arrow batch."""
        if self.tracer is not None:
            return self._query_traced(key)
        pdf = self.specs[key].fn(self.spark, self.corpus).toPandas()
        return StepResult(self.key_rows[key], lambda: self._verify(key, pdf))

    def _verify(self, key, pdf):
        from check import mismatch

        return mismatch(pdf, self.expected[key])

    def _op(self, name: str, layer: str, fn) -> None:
        self.attempted += 1
        try:
            if self.tracer is not None:
                res = self._traced_op(name, layer, fn)
            else:
                t0 = time.perf_counter()
                res = fn()
                dt = time.perf_counter() - t0
            why = res.verify()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            self._fail(name, f"{type(e).__name__}: {e}")
            return
        if why is not None:
            self._fail(name, why)
            return
        if self.tracer is None:
            self.op_s.setdefault(name, []).append(dt)
        self.rows_in += res.rows_in

    # -- traced ops ----------------------------------------------------
    def _traced_op(self, name: str, layer: str, fn):
        tr = self.tracer
        with tr.op(f"{name}#{len(self.op_layer)}"):
            before = tr.executor_totals()
            t0 = time.perf_counter()
            res = fn()
            self.op_time[layer] += time.perf_counter() - t0
            after = tr.executor_totals()
        st = self.layer[layer]
        for k, v in after.items():
            if k != "cached_bytes":
                st[k] += v - before[k]
        st["cached_peak_bytes"] = max(st["cached_peak_bytes"], after["cached_bytes"])
        self.op_layer.append(layer)
        if layer == "streaming":
            tr.wait_streams_idle()
        if layer == "sources":
            for path in res.outputs:
                size, files = dir_bytes_files(path)
                st["bytes_written"] += size
                st["files_written"] += files
            st["bytes_read"] += res.input_bytes
        return res

    def _query_traced(self, key: str):
        tr = self.tracer
        op_id = tr.current_op
        tr.set_job_group(f"{op_id}/build")
        calls0 = tr.counts["py4j"]
        with tr.span("build"):
            df = self.specs[key].fn(self.spark, self.corpus)
        self.reg["py4j_calls"] += tr.counts["py4j"] - calls0
        self.reg["eager_jobs"] += len(tr.group_job_ends(f"{op_id}/build"))
        layer = layer_of(self.specs[key].fn.__module__)
        with tr.span("plan") as plan, tr.quiet():
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        tr.set_job_group(f"{op_id}/execute")
        with tr.span("execute") as ex:
            pdf = df.toPandas()
            wall_end = time.time()
        ends = tr.group_job_ends(f"{op_id}/execute")
        fetch = max(0.0, wall_end - max(ends)) if ends else 0.0
        tr.add_span("fetch", ex["end"] - fetch, ex["end"], parent=ex)
        st = self.layer[layer]
        st["plan_s"] += plan["end"] - plan["start"]
        st["fetch_s"] += fetch
        return StepResult(self.key_rows[key], lambda: self._verify(key, pdf))

    def traced_pass(self) -> dict:
        from tracing import Tracer

        self.tracer = Tracer(self.spark)
        self.layer = defaultdict(Counter)
        self.op_time = Counter()
        self.op_layer: list[str] = []
        self.reg = Counter()
        self.tracer.install()
        try:
            self.run_pass(1)
        finally:
            self.tracer.uninstall()
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        path = os.path.join(WORK, "spans", f"{self.w.name}-seed{self.seed}.jsonl")
        self.tracer.write_spans(path)
        self.info["spans"] = os.path.relpath(path, os.path.dirname(HERE))
        self.info["layer_op_s"] = {k: round(v, 4) for k, v in sorted(self.op_time.items())}
        return self.per_layer()

    def per_layer(self) -> dict:
        tr, L = self.tracer, self.layer
        reg_ops = sum(1 for lay in self.op_layer if lay in EXEC_LAYERS)
        reg_time = sum(self.op_time[lay] for lay in EXEC_LAYERS)
        calls = tr.counts["load_table_calls"]
        m = {
            "session.load_table_calls": calls,
            "session.load_table_memo_hit_ratio": tr.counts["load_table_hits"] / calls if calls else 0.0,
            "registry.build_s": tr.span_seconds("build", exclude_children=True),
            "registry.build_share": tr.span_seconds("build") / reg_time if reg_time else 0.0,
            "registry.py4j_calls_per_op": self.reg["py4j_calls"] / reg_ops if reg_ops else 0.0,
            "registry.eager_jobs": self.reg["eager_jobs"],
        }
        for lay in EXEC_LAYERS:
            st = L[lay]
            m.update({
                f"{lay}.plan_s": st["plan_s"],
                f"{lay}.exec_task_s": st["exec_task_ms"] / 1e3,
                f"{lay}.fetch_s": st["fetch_s"],
                f"{lay}.tasks": st["tasks"],
                f"{lay}.input_bytes": st["input_bytes"],
                f"{lay}.shuffle_write_bytes": st["shuffle_write_bytes"],
                f"{lay}.gc_s": st["gc_ms"] / 1e3,
                f"{lay}.cached_mb": st["cached_peak_bytes"] / 1e6,
            })
        src = L["sources"]
        m.update({
            "plans.compile_s": self.ingest.compile_s if self.ingest else 0.0,
            "sources.write_s": self.op_time["sources"],
            "sources.bytes_written": src["bytes_written"],
            "sources.files_written": src["files_written"],
            "sources.write_amp": src["bytes_written"] / src["bytes_read"] if src["bytes_read"] else 0.0,
        })
        m.update(streaming_metrics(tr.progress))
        total = sum(self.op_time.values())
        m["failed_ratio"] = self.failed / self.attempted if self.attempted else 0.0
        m["trace.overhead_share"] = tr.probe_s / total if total else 0.0
        return m

    # -- untraced measurement -------------------------------------------
    def measure(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` have passed and the workload's
        minimum pass count is reached."""
        wall, i = 0.0, 1
        while wall < seconds or i <= self.w.min_passes:
            wall += self.run_pass(i)
            i += 1
        lat = [x for v in self.op_s.values() for x in v]
        busy, n = sum(lat), len(lat)
        self.info.update(passes=i - 1, window_s=round(wall, 4), op_samples=n,
                         op_s={k: [round(x, 4) for x in v] for k, v in self.op_s.items()})
        if not n:
            return {}
        self.info.update(op_p95_s=percentile(lat, 95), op_p95_tail_supported=tail_supported(n, 95))
        return {
            "op_p50_s": statistics.median(lat),
            "ops_per_s": n / busy,
            "rows_in_per_s": self.rows_in / busy,
        }


def streaming_metrics(progress: list[dict]) -> dict:
    """Per-layer streaming figures from micro-batch progress events:
    totals over batches, state size at each query's last batch."""
    last: dict[str, dict] = {}
    plan = add = commit = 0.0
    trig = []
    for p in progress:
        d = p.get("durationMs", {})
        trig.append(d.get("triggerExecution", 0) / 1e3)
        plan += d.get("queryPlanning", 0) / 1e3
        add += d.get("addBatch", 0) / 1e3
        commit += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3
        last[p["runId"]] = p
    ops = [op for p in last.values() for op in p.get("stateOperators", ())]
    return {
        "streaming.batches": len(progress),
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.plan_s": plan,
        "streaming.add_batch_s": add,
        "streaming.commit_s": commit,
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in ops),
    }


def calibrate(spark) -> float:
    """Host-speed descriptor: one sum over range(100M)."""
    t0 = time.perf_counter()
    spark.range(100_000_000).selectExpr("sum(id)").collect()
    return round(time.perf_counter() - t0, 4)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(boot.ROOT, "etl_builder_spark")):
        print("etl_builder_spark not found next to the benchmark", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    boot.configure_env(run_dir, cpus, bool(args.trace))
    phase = {}
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", run_dir],
        check=True,
    )
    phase["prepare"] = time.perf_counter() - t0
    spark, setup = boot.boot(shuffle_partitions=cpus)
    bench = Bench(spark, WORKLOADS[args.workload], args.seed)
    try:
        bench.prepare()
        t0 = time.perf_counter()
        bench.warm_up()
        phase["warm_up"] = time.perf_counter() - t0
        bench.info["calibration_range_sum_s"] = calibrate(spark)
        if args.trace:
            metrics = bench.traced_pass()
            metrics["session.get_spark_s"] = setup["get_spark_s"]
            metrics["session.warmup_s"] = setup["warmup_s"]
        else:
            metrics = bench.measure(args.seconds)
            rss = peak_rss_mb(boot.jvm_pid(spark))
            metrics["peak_rss_mb"] = sum(rss.values())
            bench.info["peak_rss_parts_mb"] = {k: round(v, 1) for k, v in rss.items()}
        bench.info["host"] = host_info(spark)
    finally:
        t0 = time.perf_counter()
        bench.close()
        boot.shutdown(spark)
        phase["shutdown"] = time.perf_counter() - t0
    bench.info["phase_s"] = {k: round(v, 2) for k, v in phase.items()}
    if not args.trace:
        metrics["setup_s"] = setup["setup_s"]
        bench.info["setup_parts_s"] = {k: round(v, 4) for k, v in setup.items() if k != "setup_s"}
    bench.info["errors"] = bench.errors
    print(json.dumps(bench.info))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
