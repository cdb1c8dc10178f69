"""Traced-run instrumentation, applied from outside the engine.

Everything here wraps public entry points or reads Spark's own status
store; nothing in ``etl_builder_spark`` is edited.  The tracer

* counts py4j round trips (``send_command``), excluding the
  benchmark's own probe calls and py4j's asynchronous object-release
  messages, whose timing follows the Python garbage collector;
* wraps ``session.load_table`` in every ``etl_builder_spark`` module
  that imported it, counting calls and hits in the engine's table memo;
* records spans (name, start, end, parent, op id) in memory;
* snapshots executor totals from ``statusStore().executorList(True)``;
* collects every streaming progress event through a listener.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from collections import Counter

from stats import self_time

#: executor summary fields → counter names (times in ms)
_EXEC_FIELDS = {
    "totalDuration": "exec_task_ms",
    "totalTasks": "tasks",
    "totalInputBytes": "input_bytes",
    "totalShuffleWrite": "shuffle_write_bytes",
    "totalGCTime": "gc_ms",
    "memoryUsed": "cached_bytes",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.probe_s = 0.0
        self.progress: list[dict] = []
        self._probing = 0
        self._stack: list[int] = []
        self._op: str | None = None
        self._undo: list = []
        self._terminated: set[str] = set()
        self._started: set[str] = set()
        self._cv = threading.Condition()

    # -- installation --------------------------------------------------
    def install(self) -> None:
        self._wrap_py4j()
        self._wrap_load_table()
        self._add_listener()

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    def _patch(self, owner, name: str, value) -> None:
        old = getattr(owner, name)
        setattr(owner, name, value)
        self._undo.append(lambda: setattr(owner, name, old))

    def _wrap_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if not tracer._probing and not command.startswith("m\n"):
                    tracer.counts["py4j"] += 1
                return _orig(conn, command)

            self._patch(cls, "send_command", send_command)

    def _wrap_load_table(self) -> None:
        from etl_builder_spark import session

        orig = session.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            # a hit is a frame the engine's memo already held before the
            # call, whichever pass or op put it there
            memo = getattr(session, "_TABLE_CACHE", {})
            held = {id(df) for df in memo.values()}
            with tracer.span("session.load_table"):
                df = orig(spark, sf_dir, name)
            tracer.counts["load_table_calls"] += 1
            if id(df) in held:
                tracer.counts["load_table_hits"] += 1
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("etl_builder_spark") and getattr(
                mod, "load_table", None
            ) is orig:
                self._patch(mod, "load_table", load_table)

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._cv:
                    tracer._started.add(str(event.id))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with tracer._cv:
                    tracer.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._cv:
                    tracer._terminated.add(str(event.id))
                    tracer._cv.notify_all()

        listener = _Progress()
        with self.probe():
            self.spark.streams.addListener(listener)
        self._undo.append(lambda: self.spark.streams.removeListener(listener))

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str):
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None

    @property
    def current_op(self) -> str | None:
        return self._op

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._record(name, time.perf_counter(), None, self._stack[-1] if self._stack else None)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add_span(self, name: str, start: float, end: float, parent: dict | None = None) -> None:
        """Record a span measured elsewhere (e.g. derived from job times)."""
        self._record(name, start, end, parent["id"] if parent else (self._stack[-1] if self._stack else None))

    def _record(self, name, start, end, parent) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent, "op": self._op}
        self.spans.append(rec)
        return rec

    def span_seconds(self, name: str, exclude_children: bool = False) -> float:
        """Total (or total self) time of every span with this name."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            if exclude_children:
                total += self_time((s["start"], s["end"]), children.get(s["id"], []))
            else:
                total += s["end"] - s["start"]
        return total

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    # -- the benchmark's own calls ---------------------------------------
    @contextlib.contextmanager
    def quiet(self):
        """py4j calls made inside are the benchmark's, not the engine's."""
        self._probing += 1
        try:
            yield
        finally:
            self._probing -= 1

    @contextlib.contextmanager
    def probe(self):
        """A measurement call: not counted, and timed as tracing overhead."""
        t0 = time.perf_counter()
        try:
            with self.quiet():
                yield
        finally:
            self.probe_s += time.perf_counter() - t0

    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()  # noqa: SLF001

    def executor_totals(self) -> dict[str, int]:
        """Sum of the executor summaries after the listener bus drains."""
        with self.probe():
            sc = self._jsc()
            sc.listenerBus().waitUntilEmpty()
            it = sc.statusStore().executorList(True).iterator()
            out = dict.fromkeys(_EXEC_FIELDS.values(), 0)
            while it.hasNext():
                e = it.next()
                for field, key in _EXEC_FIELDS.items():
                    out[key] += int(getattr(e, field)())
        return out

    def set_job_group(self, group: str) -> None:
        with self.probe():
            self.spark.sparkContext.setJobGroup(group, group)

    def group_job_ends(self, group: str) -> list[float]:
        """Wall-clock completion times (s) of the group's finished jobs."""
        with self.probe():
            sc = self._jsc()
            sc.listenerBus().waitUntilEmpty()
            store = sc.statusStore()
            out = []
            for jid in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
                done = store.job(jid).completionTime()
                if done.isDefined():
                    out.append(done.get().getTime() / 1e3)
            self.spark.sparkContext._jsc.clearJobGroup()  # noqa: SLF001
        return out

    def wait_streams_idle(self, timeout_s: float = 10.0) -> None:
        """Wait until every started streaming query has reported its
        termination, so its last progress event has been seen."""
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while not self._started <= self._terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cv.wait(left)
