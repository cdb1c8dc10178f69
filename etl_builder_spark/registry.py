"""Declared-query registry — the engine's t2 contract surface.

Every operator from SURVEY.md §2 registers here as a ``QuerySpec``:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are exactly SQL-expressible, the equivalent DuckDB oracle SQL.
``__spark_entry__.py`` re-exports this registry; ``queries()`` and
``oracle_sql()`` list keys in sorted order, which is deterministic and
independent of module import order.

Rule (SURVEY.md §2): never register a query that hasn't been verified
against its DuckDB oracle via ``selfcheck.py`` — a declared key is a
parity promise.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB ANSI SQL; None → driver's weaker rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Data-dependent output schema (round-12 degenerate sweep): a
    # discovery-based pivot/transpose emits one column per DISCOVERED
    # value, so on a corpus missing values the Spark schema is a strict
    # subset of the static oracle's.  selfcheck reports such keys as
    # DYNAMIC-SCHEMA instead of SCHEMA-MISMATCH when (and only when)
    # that subset relation holds; the shipped sf corpora carry every
    # value, so the driver's gate still hash-checks them exactly.
    dynamic_schema: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    dynamic_schema: bool = False,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a declared query under SURVEY §2 key ``name``.

    ``dynamic_schema`` marks discovery-based keys whose column set is a
    function of the data (see QuerySpec.dynamic_schema).
    """

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        # Round-13 NaN pin (VERDICT r12 #1): every oracle passes through
        # the registration-time compiler pass that wraps measure →
        # fixed-width casts in the NaN→NULL guard — see nanpin.py for
        # the full rationale.  Identity on NaN-free corpora; applied
        # here (not as ~300 source edits) so the pin is one auditable
        # code path and uniformly covers future registrations.
        from etl_builder_spark.nanpin import pin_nan_casts

        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=pin_nan_casts(oracle) if oracle is not None else None,
            tags=tuple(tags),
            dynamic_schema=dynamic_schema,
        )
        return fn

    return deco


def queries() -> dict[str, SparkQuery]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in sorted(REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in sorted(REGISTRY.items()) if spec.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module of the package, so each ``@register`` call
    runs (import side effect): the file tree alone decides which
    modules register keys."""
    global _LOADED
    if _LOADED:
        return
    import etl_builder_spark

    for mod in pkgutil.walk_packages(etl_builder_spark.__path__, "etl_builder_spark."):
        importlib.import_module(mod.name)
    _LOADED = True
