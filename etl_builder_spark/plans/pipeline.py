"""Fluent + declarative pipeline builder.

Two equivalent entry points:

1. **Fluent** — method-chained, typed:

       Pipeline(spark, sf_dir).scan("lineitem")
           .filter("l_quantity > 10")
           .derive(net="l_extendedprice * (1 - l_discount)")
           .agg(by=["l_returnflag"], total_net="sum(net)")
           .sort("total_net desc", "l_returnflag")
           .frame()            # → pyspark DataFrame

2. **Declarative** — a JSON-friendly dict spec (the 'pipeline as
   config' form an ETL builder tool exposes):

       compile_spec(spark, sf_dir, {
           "source": "lineitem",
           "ops": [
               {"op": "filter", "expr": "l_quantity > 10"},
               {"op": "derive", "cols": {"net": "l_extendedprice * (1 - l_discount)"}},
               {"op": "agg", "by": ["l_returnflag"], "aggs": {"total_net": "sum(net)"}},
               {"op": "sort", "by": ["total_net desc"], "limit": 10},
           ],
       })

Design: the builder adds NO intermediate representation of its own —
each step composes a lazy DataFrame, so the entire pipeline is one
Catalyst logical plan and every §4.1 optimization (pushdown through
the whole chain, join reordering, AQE) applies across step boundaries.
Expressions are Spark SQL strings (`F.expr`) — JVM-side, codegen'd,
never Python.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_builder_spark.session import load_table


def _sort_cols(specs: Sequence[str]) -> list:
    cols = []
    for s in specs:
        parts = s.split()
        c = F.col(parts[0])
        if len(parts) > 1 and parts[1].lower() == "desc":
            c = c.desc()
        cols.append(c)
    return cols


class Pipeline:
    """Fluent pipeline over one DataFrame lineage."""

    def __init__(self, spark: SparkSession, sf_dir: str, df: DataFrame | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self._df = df

    def _with(self, df: DataFrame) -> "Pipeline":
        return Pipeline(self.spark, self.sf_dir, df)

    def frame(self) -> DataFrame:
        if self._df is None:
            raise ValueError("pipeline has no source; call .scan() first")
        return self._df

    def _resolve(self, other: "Pipeline | DataFrame | str") -> DataFrame:
        """The frame behind a join/union/asof right side: a table name
        is loaded from this pipeline's corpus, a Pipeline gives its
        frame, a DataFrame is itself."""
        if isinstance(other, str):
            return load_table(self.spark, self.sf_dir, other)
        if isinstance(other, Pipeline):
            return other.frame()
        return other

    # -- sources ----------------------------------------------------
    def scan(self, table: str) -> "Pipeline":
        return self._with(load_table(self.spark, self.sf_dir, table))

    def from_frame(self, df: DataFrame) -> "Pipeline":
        return self._with(df)

    # -- row ops ----------------------------------------------------
    def filter(self, expr: str) -> "Pipeline":
        return self._with(self.frame().where(F.expr(expr)))

    def select(self, *cols: str) -> "Pipeline":
        return self._with(self.frame().select(*[F.expr(c) for c in cols]))

    def derive(self, **cols: str) -> "Pipeline":
        df = self.frame()
        for name, expr in cols.items():
            df = df.withColumn(name, F.expr(expr))
        return self._with(df)

    def drop(self, *cols: str) -> "Pipeline":
        return self._with(self.frame().drop(*cols))

    def distinct(self) -> "Pipeline":
        return self._with(self.frame().distinct())

    # -- joins ------------------------------------------------------
    def join(
        self,
        other: "Pipeline | DataFrame | str",
        on: str,
        how: str = "inner",
        broadcast_right: bool = False,
    ) -> "Pipeline":
        """Join against another pipeline, frame, or table name.
        ``on`` is a SQL condition or a comma-separated column list."""
        right = self._resolve(other)
        if broadcast_right:
            right = F.broadcast(right)
        cond = [c.strip() for c in on.split(",")] if ("=" not in on and "(" not in on) else F.expr(on)
        return self._with(self.frame().join(right, cond, how))

    # -- aggregation ------------------------------------------------
    def agg(self, by: Sequence[str] = (), **aggs: str) -> "Pipeline":
        exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
        df = self.frame()
        grouped = df.groupBy(*[F.col(c) for c in by]) if by else df.groupBy()
        return self._with(grouped.agg(*exprs))

    def window(self, partition_by: Sequence[str], order_by: Sequence[str], **cols: str) -> "Pipeline":
        """Windowed derivations: each value is a SQL window-function
        body applied OVER (PARTITION BY ... ORDER BY ...)."""
        over = f"OVER (PARTITION BY {', '.join(partition_by)} ORDER BY {', '.join(order_by)})"
        df = self.frame()
        for name, fn_body in cols.items():
            df = df.withColumn(name, F.expr(f"{fn_body} {over}"))
        return self._with(df)

    # -- ordering / limits ------------------------------------------
    def sort(self, *by: str) -> "Pipeline":
        return self._with(self.frame().orderBy(*_sort_cols(by)))

    def limit(self, n: int) -> "Pipeline":
        return self._with(self.frame().limit(n))

    # -- set ops ----------------------------------------------------
    def union_all(self, other: "Pipeline | DataFrame | str") -> "Pipeline":
        right = self._resolve(other)
        return self._with(self.frame().unionByName(right))

    # -- cleaning / reshaping ---------------------------------------
    def rename(self, **cols: str) -> "Pipeline":
        """rename(new_name="old_name", ...)"""
        df = self.frame()
        for new, old in cols.items():
            df = df.withColumnRenamed(old, new)
        return self._with(df)

    def fillna(self, value: Any, subset: Sequence[str] | None = None) -> "Pipeline":
        return self._with(self.frame().fillna(value, subset=list(subset) if subset else None))

    def dropna(self, subset: Sequence[str] | None = None, how: str = "any") -> "Pipeline":
        return self._with(
            self.frame().dropna(how=how, subset=list(subset) if subset else None)
        )

    def dedup(self, *subset: str) -> "Pipeline":
        """Exact dedup on a key subset (whole row when empty).  At
        scale this is one shuffle on the subset key — the I4 family's
        first stage exposed as a pipeline step."""
        df = self.frame()
        return self._with(df.dropDuplicates(list(subset)) if subset else df.distinct())

    def explode(self, col: str, alias: str | None = None) -> "Pipeline":
        df = self.frame()
        out = alias or col
        others = [c for c in df.columns if c != col]
        return self._with(df.select(*others, F.explode(F.col(col)).alias(out)))

    def sample_hash(self, key: str, fraction: float) -> "Pipeline":
        """Deterministic hash sample — stable membership across reruns,
        engines and partitionings (llm/sampling.py hash_sample)."""
        from etl_builder_spark.llm.sampling import hash_sample

        return self._with(hash_sample(self.frame(), key, fraction))

    def pivot(self, by: str, pivot_col: str, values: Sequence[str], **aggs: str) -> "Pipeline":
        exprs = [F.expr(e).alias(name) for name, e in aggs.items()]
        return self._with(
            self.frame().groupBy(by).pivot(pivot_col, list(values)).agg(*exprs)
        )

    def unpivot(self, ids: Sequence[str], cols: Sequence[str], var_name: str, value_name: str) -> "Pipeline":
        return self._with(
            self.frame().unpivot(list(ids), list(cols), var_name, value_name)
        )

    # -- custom operators --------------------------------------------
    def asof(
        self,
        other: "Pipeline | DataFrame | str",
        key: str,
        right_cols: Sequence[str],
        direction: str = "backward",
    ) -> "Pipeline":
        """As-of join (latest right row at-or-before each left row per
        key, on the shared ``ts`` column) — the engine's custom
        operator surfaced as a pipeline step (operators/asof.py
        union-tag single-pass rewrite: one shuffle, no range
        explosion)."""
        from etl_builder_spark.operators.asof import asof_join

        if direction != "backward":
            raise ValueError("pipeline asof supports direction='backward'")
        right = self._resolve(other)
        return self._with(asof_join(self.frame(), right, key, right_cols=tuple(right_cols)))

    # -- sinks ------------------------------------------------------
    def sink_parquet(self, path: str, partition_by: Sequence[str] = (), mode: str = "overwrite") -> None:
        from etl_builder_spark.sources.writers import write_parquet_partitioned

        write_parquet_partitioned(self.frame(), path, tuple(partition_by), mode)

    def explain_text(self) -> str:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.frame().explain("formatted")
        return buf.getvalue()


_OP_HANDLERS = {
    "filter": lambda p, o: p.filter(o["expr"]),
    "select": lambda p, o: p.select(*o["cols"]),
    "derive": lambda p, o: p.derive(**o["cols"]),
    "drop": lambda p, o: p.drop(*o["cols"]),
    "distinct": lambda p, o: p.distinct(),
    "join": lambda p, o: p.join(
        o["table"], o["on"], o.get("how", "inner"), o.get("broadcast", False)
    ),
    "agg": lambda p, o: p.agg(by=o.get("by", ()), **o["aggs"]),
    "window": lambda p, o: p.window(o["partition_by"], o["order_by"], **o["cols"]),
    "sort": lambda p, o: (p.sort(*o["by"]).limit(o["limit"]) if "limit" in o else p.sort(*o["by"])),
    "limit": lambda p, o: p.limit(o["n"]),
    "union": lambda p, o: p.union_all(o["table"]),
    "rename": lambda p, o: p.rename(**o["cols"]),
    "fillna": lambda p, o: p.fillna(o["value"], o.get("subset")),
    "dropna": lambda p, o: p.dropna(o.get("subset"), o.get("how", "any")),
    "dedup": lambda p, o: p.dedup(*o.get("subset", ())),
    "explode": lambda p, o: p.explode(o["col"], o.get("alias")),
    "sample": lambda p, o: p.sample_hash(o["key"], o["fraction"]),
    "pivot": lambda p, o: p.pivot(o["by"], o["pivot"], o["values"], **o["aggs"]),
    "unpivot": lambda p, o: p.unpivot(
        o["ids"], o["cols"], o.get("var_name", "variable"), o.get("value_name", "value")
    ),
    "asof": lambda p, o: p.asof(
        o["table"], o["key"], o["right_cols"], o.get("direction", "backward")
    ),
}


def compile_spec(spark: SparkSession, sf_dir: str, spec: Mapping[str, Any]) -> DataFrame:
    """Compile a declarative pipeline spec to a DataFrame (one Catalyst
    plan). Unknown ops fail loudly with the known-op list."""
    p = Pipeline(spark, sf_dir).scan(spec["source"])
    for op in spec.get("ops", ()):
        kind = op.get("op")
        if kind not in _OP_HANDLERS:
            raise ValueError(f"unknown pipeline op {kind!r}; known: {sorted(_OP_HANDLERS)}")
        p = _OP_HANDLERS[kind](p, op)
    return p.frame()
