"""Plan auditing — the engine's own 100 TB lint pass.

`plan_digest` summarizes a DataFrame's executed plan into the counts
that matter at scale: real FileScans per source (cache-description
reprints excluded), exchanges, sorts, cached-frame reuses, and the
presence of the two forbidden node types.  `assert_scan_budget` turns
the digest into a guard an operator (or test) can pin its plan with.

Motivation (PERF.md round-5 persist sweep): lazy evaluation
RE-DERIVES any DataFrame referenced more than once — a dedup
cascade's executed plan held 88 document scans before its invariants
were persisted.  The digest makes that class of regression visible
in one call, and tests/test_plans.py uses it to pin the repaired
plans (e.g. dq_null_profile at exactly one scan).
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: node names that must never appear in a declared plan (the same
#: contract tests/test_plans.py sweeps registry-wide)
FORBIDDEN_NODES = ("CartesianProduct", "BatchEvalPython")


def _formatted(df: DataFrame) -> str:
    """The text ``df.explain("formatted")`` prints, without the print."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def plan_digest(df: DataFrame) -> dict:
    """Summarize the executed plan.  Scan counts come from the
    FORMATTED explain's numbered node headers (``(n) Scan parquet``),
    which appear once per REAL scan node — the plain ``toString``
    form re-prints a cached relation's entire child plan inside every
    InMemoryTableScan, inflating naive path-mention counts (the trap
    the round-5 audit tooling hit first)."""
    p = _formatted(df)
    scans = re.findall(r"\(\d+\) Scan parquet[^\n]*\n(?:[^\n]*\n)*?Location[^\n]*?\[([^\]]*)\]", p)
    per_source = Counter(loc.rstrip("/").split("/")[-1] for loc in scans)
    return {
        "scans": dict(per_source),
        "n_scans": sum(per_source.values()),
        "n_exchanges": len(re.findall(r"\(\d+\) Exchange", p)),
        "n_sorts": len(re.findall(r"\(\d+\) Sort\b", p)),
        "n_cached_reads": len(re.findall(r"\(\d+\) InMemoryTableScan", p)),
        "forbidden": [n for n in FORBIDDEN_NODES if n in p],
    }


def assert_scan_budget(df: DataFrame, max_scans_per_source: int = 1) -> dict:
    """Raise if any single source is scanned more than the budget, or
    a forbidden node appears.  Returns the digest for further checks."""
    d = plan_digest(df)
    over = {s: n for s, n in d["scans"].items() if n > max_scans_per_source}
    if over:
        raise AssertionError(
            f"scan budget exceeded (>{max_scans_per_source} per source): {over}"
        )
    if d["forbidden"]:
        raise AssertionError(f"forbidden plan nodes: {d['forbidden']}")
    return d


def normalize_plan(text: str) -> str:
    """Canonicalize a formatted physical-plan string for fingerprinting:
    strip run-varying tokens (expression IDs, plan IDs, codegen stage
    IDs, filesystem paths, statistics, cached-RDD numbers) so the hash
    moves iff the PLAN SHAPE moves.  ``canonical_plan_hashes`` applies
    it for both the PLAN_FINGERPRINTS.json emitter
    (tests/emit_plan_fingerprints.py) and the cross-round shape gate in
    tests/test_plans.py — one normalization, one definition of "the
    plan changed"."""
    text = re.sub(r"#\d+[L]?", "#N", text)                 # expr IDs
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"\[codegen id : \d+\]", "[codegen id : N]", text)
    # fs paths: require >=2 '/'-separated segments and a non-word char
    # before the leading '/', so a bare division printed without spaces
    # (x/100.0) survives normalization instead of collapsing to x<path>
    # (ADVICE r13: the old /[\w./@+-]* swallowed any '/'-led token)
    text = re.sub(r"(file:)?(?<![\w.)])/(?:[\w.@+-]+/)+[\w.@+-]*", "<path>", text)
    # single-segment absolute paths (e.g. a /tmp spill dir) escape the
    # >=2-segment rule above; normalize them when they are unambiguously
    # filesystem references — a file:/ prefix (scheme'd URI) (ADVICE r14)
    text = re.sub(r"file:/[\w.@+-]+", "<path>", text)
    text = re.sub(r"Statistics\([^)]*\)", "Statistics(N)", text)
    text = re.sub(r"CachedRDD \d+", "CachedRDD N", text)
    text = re.sub(r"Memory size: [\d.]+ \w+", "Memory size: N", text)
    text = re.sub(r"\(\d+\)", "(N)", text)                 # node ordinals
    return text


def plan_fine_hash(text: str) -> str:
    """sha256[:16] of the normalized plan text — moves on ANY textual
    plan change.  Catalyst emits equivalent-but-reordered expression
    lists run-to-run for some shapes (RewriteDistinctAggregates assigns
    gids in hash order), so 58 registry keys are fine-unstable; their
    SHAPE hash is the load-bearing one (PLAN_FINGERPRINTS.json lists
    them under fine_unstable)."""
    import hashlib

    return hashlib.sha256(normalize_plan(text).encode()).hexdigest()[:16]


#: AQE runtime wrappers excluded from the shape hash: keys that execute
#: actions during construction (fixpoint loops) explain a PARTIALLY
#: MATERIALIZED adaptive plan, and which stages have materialized races
#: with background broadcast jobs — ml_dbscan_grid's shape flipped
#: between identical sessions purely on that timing.  The wrapped REAL
#: operators (Exchange, joins, aggregates, scans) are counted on their
#: own lines, so dropping the wrappers loses no structural signal.
_AQE_WRAPPER_NODES = frozenset(
    {
        "AdaptiveSparkPlan",
        "BroadcastQueryStage",
        "ShuffleQueryStage",
        "TableCacheQueryStage",
        "ResultQueryStage",
        "AQEShuffleRead",
    }
)

#: cache-materialization artifacts excluded from the shape hash
#: (VERDICT r14 item 1).  Whether a persisted subtree prints as
#: InMemoryTableScan/InMemoryRelation or as its expanded lineage
#: depends on CacheManager state at PLANNING time, not on the query's
#: structure — the round-14 gate flake.  The emitter and gate now
#: canonicalize by clearing the cache before explain (so these nodes
#: should never appear in a canonical plan); excluding their names is
#: the second line of defense for plans hashed outside that protocol.
_CACHE_NODES = frozenset({"InMemoryTableScan", "InMemoryRelation"})


def plan_shape_hash(text: str) -> str:
    """sha256[:16] of the sorted multiset of physical operator names
    (AQE runtime wrappers and cache-materialization nodes excluded) —
    invariant under Catalyst's nondeterministic expression/gid
    orderings, AQE's stage-materialization timing, and CacheManager
    state, while still moving on any structural change (an extra
    Exchange, a lost pushdown, a join strategy flip)."""
    import hashlib

    skip = _AQE_WRAPPER_NODES | _CACHE_NODES
    ops = sorted(
        op
        for op in re.findall(r"\(N\) ([A-Za-z][A-Za-z0-9]*)", normalize_plan(text))
        if op not in skip
    )
    return hashlib.sha256(";".join(ops).encode()).hexdigest()[:16]


def canonical_plan_hashes(
    spark: SparkSession, fn: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> tuple[str, str]:
    """(fine hash, shape hash) of ``fn(spark, sf_dir)``'s formatted
    physical plan (analysis + optimization only — nothing executes
    beyond what ``fn`` itself runs while building).

    Canonical cache state (VERDICT r14 item 1): the cache is cleared
    BEFORE building (fresh construction environment) and AGAIN before
    explain.  Cache substitution happens at PLANNING time via
    CacheManager lookup, so a frame built by a memoized construction
    (e.g. the shared graph state) prints InMemoryTableScan on a
    memo-miss build but the expanded lineage on a memo-hit build —
    session history leaking into the hash (ml_dbscan_grid /
    graph_degree_distribution, round 14).  With the cache cleared at
    explain time, every build plans the same fully-expanded lineage."""
    spark.catalog.clearCache()
    df = fn(spark, sf_dir)
    spark.catalog.clearCache()
    plan = _formatted(df)
    return plan_fine_hash(plan), plan_shape_hash(plan)
