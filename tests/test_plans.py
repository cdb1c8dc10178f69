"""Plan-shape golden checks (SURVEY.md §4.1): the optimizations the
engine relies on at 100 TB must actually appear in the physical plan —
pushdown, pruning, broadcast, top-k short-circuit, group-limit.
"""

from __future__ import annotations

import pytest

from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def _plannable_specs():
    """Registry entries in key order, minus the live-stream keys: calling
    one of those runs a streaming query, and its batch twin covers the
    plan surface."""
    return [
        (name, spec) for name, spec in sorted(REGISTRY.items()) if "live-stream" not in spec.tags
    ]


def plan(spark, name: str) -> str:
    import contextlib
    import io

    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    p = plan(spark, "scan_parquet_pruned")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "GreaterThan" in p or "LessThan" in p
    # column pruning: scan schema carries only the 4 referenced columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_broadcast_join_is_broadcast(spark):
    p = plan(spark, "join_broadcast")
    assert "BroadcastHashJoin" in p


def test_star_join_broadcasts_dims(spark):
    p = plan(spark, "join_multiway_star")
    assert "BroadcastHashJoin" in p


def test_topk_plans_take_ordered(spark):
    p = plan(spark, "topk_global")
    assert "TakeOrderedAndProject" in p


def test_topk_per_group_has_group_limit(spark):
    p = plan(spark, "win_topk_per_group")
    assert "WindowGroupLimit" in p


def test_agg_has_partial_phase(spark):
    p = plan(spark, "agg_pricing_summary")
    # partial (map-side) + final HashAggregate around one key exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_semi_anti_plan_as_joins(spark):
    assert "LeftSemi" in plan(spark, "join_semi")
    assert "LeftAnti" in plan(spark, "join_anti")


def test_scan_shaped_llm_ops_have_no_exchange(spark):
    # expression-only operators must stay scan-shaped: zero shuffles
    for name in ("embed_normalize_quantize", "text_pii_scrub", "text_quality_score"):
        p = plan(spark, name)
        assert "Exchange" not in p, f"{name} grew a shuffle"


def test_packing_is_single_shuffle(spark):
    p = plan(spark, "pack_context_windows")
    # count tree nodes, not the per-operator detail section re-mentions
    assert p.count("+- Exchange") == 1  # one hash partition on lang
    assert "Window" in p


def test_vocab_window_runs_on_aggregated_counts(spark):
    # the global ranking window must sit ABOVE the token-count
    # aggregation (|vocab| rows), not over the raw token stream
    p = plan(spark, "vocab_top_tokens")
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans list operators root-first: Window above the agg
    # appears EARLIER in the text
    assert win_pos < agg_pos


def test_bucketed_interval_join_is_equi_hash(spark):
    # the scale formulation must plan an equi-join (hash/sort-merge on
    # user_id+bucket), NOT a broadcast-nested-loop over the range
    p = plan(spark, "join_interval_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_tpch_family_plan_shapes(spark):
    """The adapted TPC-H suite plans the shapes the 100 TB posture
    depends on: semi-join EXISTS, pushed scans, top-k short-circuit,
    and no nested-loop/cartesian fallbacks anywhere."""
    p4 = plan(spark, "tpch_q4_priority_exists")
    assert "LeftSemi" in p4
    p6 = plan(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [" in p6 and "GreaterThanOrEqual" in p6
    for name in ("tpch_q10_returned_items", "tpch_q18_large_orders", "tpch_q21_waiting_supplier"):
        p = plan(spark, name)
        assert "TakeOrderedAndProject" in p, name
    p21 = plan(spark, "tpch_q21_waiting_supplier")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    for name in (
        "tpch_q4_priority_exists",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_profit_by_nation",
        "tpch_q17_small_qty_revenue",
        "tpch_q19_disjunctive_revenue",
        "tpch_q21_waiting_supplier",
        "tpch_q22_dormant_customers",
    ):
        p = plan(spark, name)
        assert "CartesianProduct" not in p, name
        # BNLJ is acceptable only for broadcast single-row scalars
        if "BroadcastNestedLoopJoin" in p:
            assert name in ("tpch_q22_dormant_customers",), name


def test_runtime_bloom_filter_join_reduction(spark):
    """Spark's runtime bloom-filter injection — the semi-join reduction
    that prunes the fact side of a shuffle join before the shuffle.
    At 100 TB this is the lever when the dim side is filtered but too
    big to broadcast: the filtered build side aggregates a bloom filter
    on the join key and the probe-side scan applies might_contain.
    Demonstrated here by forcing the SMJ path (broadcast off) and
    lowering the application-side threshold the toy corpus can't meet."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from etl_builder_spark.session import load_table

        l = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").where(F.col("o_totalprice") > 400000)
        j = l.join(o, l["l_orderkey"] == o["o_orderkey"]).groupBy("o_orderpriority").count()

        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "bloom_filter_agg" in p  # build side constructs the filter
        # and the result is correct with the filter applied
        got = {r["o_orderpriority"]: r["count"] for r in j.collect()}
        want = {
            r["o_orderpriority"]: r["count"]
            for r in l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_exact_twin_broadcasts_quantizer(spark):
    """sim_knn_ivf_exact: the pinned 16-point quantizer must broadcast
    (assignment is a broadcast nested-loop argmax, never a shuffle of
    the corpus against centroids), and the probe-list → candidates join
    must be a broadcast hash equi-join on cluster_id."""
    p = plan(spark, "sim_knn_ivf_exact")
    assert "BroadcastNestedLoopJoin" in p  # corpus x 16 broadcast centroids
    assert "BroadcastHashJoin" in p and "cluster_id" in p
    assert "CartesianProduct" not in p


def test_q9_selective_pushdown_and_bloom(spark):
    """tpch_q9_profit_selective: (1) the p_retailprice band reaches the
    part scan as PushedFilters; (2) with broadcast off and the toy-scale
    bloom thresholds lowered, the filtered part side injects a runtime
    bloom filter that prunes lineitem on l_partkey BEFORE the shuffle —
    Q9's fact-side reduction at 100 TB."""
    p = plan(spark, "tpch_q9_profit_selective")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln and "p_retailprice" in ln]
    assert pushed, "band filter must push into the part scan"

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from etl_builder_spark.registry import REGISTRY

        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            REGISTRY["tpch_q9_profit_selective"].fn(spark, SF_DIR).explain("formatted")
        pb = buf.getvalue()
        assert "bloom_filter_agg" in pb
        assert "might_contain" in pb
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_embed_dedup_candidates_are_equi_join(spark):
    """The sign-LSH candidate stage must be a band-bucket EQUI-join:
    the only nested-loop join allowed in the plan is the broadcast of
    the single wide hyperplane row — the corpus itself is never
    cross-joined."""
    import contextlib
    import io

    from etl_builder_spark.llm.embed_dedup import dedup_embedding_cosine

    df = dedup_embedding_cosine(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    # the only nested-loop joins are 1-ROW broadcasts: the wide
    # hyperplane row (recomputed once per candidate-self-join branch, 2
    # nodes), the planted-offset scalar aggregate (round 14: the
    # corpus-derived max(vec_id)+1 rides the plan as a broadcast
    # scalar), and the adaptive-geometry gate scalar (round 15: the
    # corpus-size span that picks 4×8 vs 2×16 banding)
    import re

    bnlj_nodes = re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", p)
    assert len(bnlj_nodes) <= 4, f"unexpected nested-loop joins: {len(bnlj_nodes)}"
    # the candidate self-join and both vector fetch-backs are hash equi-joins
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        p.count("BroadcastHashJoin") >= 2
    )


def test_dpp_partitioned_scan_prunes_dynamically(spark):
    """scan_dpp_partitioned: the month-partitioned fact scan must carry
    a dynamicpruning subquery in its PartitionFilters (the runtime
    partition-prune fed by the filtered month dim) and read only the
    measure column."""
    import contextlib
    import io

    from etl_builder_spark.sources.partitioned import scan_dpp_partitioned

    df = scan_dpp_partitioned(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "dynamicpruningexpression" in pf[0]
    # fact side reads just the measure — partition column comes from
    # the directory structure, every other column is pruned
    assert "struct<o_totalprice:double>" in p


def test_substring_windows_no_cartesian_and_guard_is_broadcast(spark):
    """The substring-window pair stage must be an equi-join on the
    window key with the hot-window guard applied as a broadcast
    anti-join — no cartesian products anywhere in the plan."""
    import contextlib
    import io

    from etl_builder_spark.llm.substring import dedup_substring_windows

    df = dedup_substring_windows(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" in p  # the hot-window ceiling guard


def test_semantic_centroids_broadcasts_only_centroids(spark):
    """SemDeDup centroid blocking: the only nested-loop join is the
    16-row centroid broadcast against the corpus; the pair stage is an
    equi-join on cluster_id."""
    import contextlib
    import io
    import re

    from etl_builder_spark.llm.embed_dedup import dedup_semantic_centroids

    df = dedup_semantic_centroids(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    # centroid broadcast appears once per self-join branch (2 nodes max)
    bnlj = re.findall(r"\(\d+\)\s+BroadcastNestedLoopJoin", p)
    assert len(bnlj) <= 2


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: with broadcast disabled, the
    bucketed lineitem⋈orders sort-merge join must plan ZERO exchanges
    before the join (bucket i reads against bucket i). The final
    aggregation exchange is the only one allowed. Values must equal
    the unbucketed join's."""
    import contextlib
    import io
    import re

    from etl_builder_spark.sources.bucketed import staged_bucketed_tables

    tl, to = staged_bucketed_tables(spark, SF_DIR)
    l, o = spark.table(tl), spark.table(to)
    joined = l.join(o, l["l_orderkey"] == o["o_orderkey"]).groupBy("o_orderdate").count()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p
        # exactly one exchange: the post-join aggregation shuffle
        assert len(re.findall(r"\(\d+\)\s+Exchange", p)) == 1
        n = joined.count()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    from pyspark.sql import functions as F

    from etl_builder_spark.session import load_table

    want = (
        load_table(spark, SF_DIR, "lineitem")
        .join(load_table(spark, SF_DIR, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderdate")
        .count()
        .count()
    )
    assert n == want


def test_recursive_cte_plans_union_loop(spark):
    """The recursive CTE must execute as Catalyst's native recursion
    (UnionLoop with a UnionLoopRef back-edge), not a driver-side
    re-issue loop — and terminate at the tree's 7-level depth with one
    row per node."""
    p = plan(spark, "graph_reachability_paths")
    assert "UnionLoop" in p
    assert "UnionLoopRef" in p
    df = REGISTRY["graph_reachability_paths"].fn(spark, SF_DIR)
    rows = {r["node"]: r for r in df.collect()}
    assert len(rows) == 126
    assert max(r["depth_to_root"] for r in rows.values()) == 6
    assert rows[11]["root_path"] == "11>5>2>0"


#: Keys whose plans legitimately carry an UNPARTITIONED Window — every
#: one operates on a bounded post-aggregation frame (distinct values,
#: dimension cardinality, decile/class counts) with the scale swap
#: documented in its docstring; the flagship swaps are hash-PROVEN by
#: the *_banded / *_bucketed twins.  A key appearing here stale (window
#: removed) or a NEW key growing a global window both fail the sweep —
#: additions must come with a bounded-frame justification.
UNPARTITIONED_WINDOW_ALLOWLIST = frozenset({
    "agg_abc_classification",
    "agg_equidepth_histogram",  # lag over the EQD_BINS-row edge frame only
    "etl_sort_key_run_counts",  # seam lag over the |bands|-row head/tail frame
    "ml_isotonic_calibration_pava",  # prefix sums over the <=50-bucket frame
    "ml_quantile_regression_grid",  # argmin over the 9-row slope-grid aggregate
    "stats_bh_fdr",  # rank over the 25-brand p-value frame
    "stats_hill_tail_index",  # rank over the LIMIT-101 top-k slice
    "stats_xi_correlation",  # 50-row y-rank map + |bands|-row seam lag
    "stats_group_sequential_looks",  # cumulation over the 5-look month frame
    "stats_wasserstein_binned",  # CDF running sum over the <=~60-bin frame
    "vocab_bpe_one_merge",  # merge pick over the |pair-vocab| frame
    "agg_gini_revenue",
    "agg_share_of_hierarchy",
    "etl_partition_skew_report",  # rank over the |partitions| census
    "etl_surrogate_keys",
    "funnel_three_stage",
    "ml_lift_gain_deciles",
    "ml_lift_gain_deciles_bucketed",  # 10-row decile cumulative only
    "ml_rfm_segmentation",
    "sketch_bloom_exact",  # 10-member probe pick over the vocab frame
    "sketch_count_min_exact",  # top-20 probe pick over the vocab frame
    "stats_ks_two_sample",
    "stats_mannwhitney_u",
    "stats_survival_km",
    "text_oov_rate",
    "ts_anomaly_mad_residual",  # centered MA over the hourly census
    "ts_control_chart_xmr",
    "ts_rolling_corr",
    "ts_rolling_trend_slope",  # 24h OLS window over the hourly census
    "vocab_bpe_pair_counts",
    "vocab_coverage_curve",
    "vocab_top_tokens",
    "win_cumulative_share",
    "win_unpartitioned_caution",  # the documented hazard demo itself
})


def test_registry_wide_plan_anti_patterns(spark):
    """Sweep EVERY declared query's physical plan for the two
    anti-patterns the 100 TB posture forbids outright, plus the
    unpartitioned-Window census:

    - CartesianProduct: zero tolerance — even the declared C7 cross
      join broadcasts its 25-row sides (BNLJ), and every 1-row
      aggregate crossJoin is a broadcast.
    - BatchEvalPython (row-at-a-time pickled Python): zero tolerance —
      pandas/Arrow evaluation (ArrowEvalPython, *InPandas,
      ArrowEvalPythonUDTF) is the only sanctioned Python seam.
    - Unpartitioned Window: allowed ONLY for the pinned allowlist of
      bounded-frame shapes above (round 7); anything else must use the
      banded/bucketed swap.

    Live-streaming keys are skipped (their fn executes a streaming
    query; their batch twins cover the plan surface)."""
    import contextlib
    import io

    offenders = {}
    unpartitioned = set()
    for name, spec in _plannable_specs():
        df = spec.fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        bad = [pat for pat in ("CartesianProduct", "BatchEvalPython") if pat in p]
        if bad:
            offenders[name] = bad
        flags = _window_args_partitioned(p)
        if flags and not all(flags):
            unpartitioned.add(name)
    assert not offenders, f"anti-patterns found: {offenders}"
    new = unpartitioned - UNPARTITIONED_WINDOW_ALLOWLIST
    stale = UNPARTITIONED_WINDOW_ALLOWLIST - unpartitioned
    assert not new, f"NEW unpartitioned windows (justify + allowlist or band): {sorted(new)}"
    assert not stale, f"stale allowlist entries: {sorted(stale)}"


def test_pq_encode_has_no_window(spark):
    """The PQ argmin must be the map-side-combine groupBy(min(struct))
    form, not a row_number window over the ×k broadcast expansion —
    the window shape sort-shuffles k× the vector volume (VERDICT r4)."""
    p = plan(spark, "embed_pq_codes")
    assert "Window" not in p, "pq_encode regressed to the window-argmin shape"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_registry_wide_canon_safe_schemas(spark):
    """Every declared query's output schema must be scalar-only: the
    grading harness canonicalizes ALL outputs (rows-only included) with
    a pandas sort that cannot hash array/map/struct cells — an
    embed_pq_codes-shaped schema crashes it (CORRECTNESS_r04 err).
    Composition helpers may return arrays; declared surfaces must
    flatten (array_join / explode) before returning."""
    from pyspark.sql import types as T

    offenders = {}
    for name, spec in _plannable_specs():
        df = spec.fn(spark, SF_DIR)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"canon-unsafe output columns: {offenders}"


def test_sessionize_single_exchange(spark):
    """Both sessionize windows AND the final session rollup must share
    the user_id hash partitioning: exactly ONE Exchange in the plan.
    A second exchange would mean the groupBy failed to reuse the
    window's partitioning — the operator's whole 100 TB claim."""
    p = plan(spark, "sessionize_events_gap")
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2, tree


def test_ohlc_single_exchange_partial_agg(spark):
    """OHLC is one aggregation: partial (map-side) aggregate below a
    single Exchange, final above — min_by/max_by keep it window-free.
    A Window node here would be the pq_encode regression shape."""
    p = plan(spark, "ts_resample_ohlc")
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert "Window" not in tree
    assert "partial_min_by" in p and "partial_max_by" in p


def test_keyset_page_plans_topk_merges(spark):
    """Keyset pagination must plan BOTH steps as TakeOrderedAndProject
    (per-partition top-k + k-row merge) — no global Sort, no
    single-partition OFFSET slice anywhere in the plan."""
    p = plan(spark, "limit_keyset_page")
    assert p.count("TakeOrderedAndProject") >= 2, p
    assert "GlobalLimit" not in p


def test_market_basket_reuses_persisted_items(spark):
    """The basket self-join must consume the persisted distinct
    (order, part) frame on both sides (InMemoryTableScan ×2) — not
    re-derive the distinct from two lineitem scans — and end in the
    top-20 TakeOrderedAndProject merge."""
    p = plan(spark, "market_basket_pairs")
    assert p.count("InMemoryTableScan") >= 2, p
    assert "TakeOrderedAndProject" in p


def test_grid_radius_join_is_broadcast_equi_join(spark):
    """The spatial radius join must be a broadcast EQUI-join on the
    grid cell keys — the brute-force shape (BroadcastNestedLoopJoin /
    CartesianProduct on the distance predicate) is what the grid
    exists to avoid."""
    p = plan(spark, "geo_grid_radius_join")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_sparse_tfidf_pairs_no_cartesian_and_cached_weights(spark):
    """The sparse similarity join must pair documents through the
    inverted shingle index (equi-join) with the weight frame persisted
    for its three consumers; a cartesian pairing or a re-derived
    shingle pipeline would be the 100 TB killer."""
    p = plan(spark, "sim_sparse_tfidf_pairs")
    assert "CartesianProduct" not in p
    assert p.count("InMemoryTableScan") >= 2, p
    assert "TakeOrderedAndProject" in p


def test_null_profile_single_scan_stack(spark):
    """The column profiler must be ONE scan + ONE aggregate + a stack
    unpivot — the per-column-union shape re-reads the table once per
    column (6 scans, caught by the round-5 multi-scan audit)."""
    import re

    p = plan(spark, "dq_null_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_plan_digest_counts_real_scans_not_cache_reprints(spark):
    """plans/audit.py: the digest must count actual scan NODES —
    dq_null_profile is exactly one scan; market_basket_pairs reads
    lineitem once and reuses the cached distinct twice; and the
    forbidden-node detector must fire on a genuine cartesian."""
    from etl_builder_spark.plans.audit import assert_scan_budget, plan_digest

    d1 = assert_scan_budget(
        REGISTRY["dq_null_profile"].fn(spark, SF_DIR), max_scans_per_source=1
    )
    assert d1["scans"] == {"orders.parquet": 1}, d1

    d2 = plan_digest(REGISTRY["market_basket_pairs"].fn(spark, SF_DIR))
    assert d2["scans"].get("lineitem.parquet", 0) <= 1, d2
    assert d2["n_cached_reads"] >= 2, d2

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny ranges broadcast by default (BNLJ); disabling broadcast
        # forces the genuine CartesianProduct the detector must flag
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        naughty = spark.range(3).crossJoin(spark.range(3, 6))
        assert plan_digest(naughty)["forbidden"] == ["CartesianProduct"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_bucketed_agg_plans_zero_exchanges(spark):
    """agg_bucketed_no_shuffle: grouping the bucketed table on its
    bucket key must satisfy the aggregate's required distribution from
    the LAYOUT — zero Exchange nodes anywhere in the plan."""
    from etl_builder_spark.plans.audit import plan_digest

    d = plan_digest(REGISTRY["agg_bucketed_no_shuffle"].fn(spark, SF_DIR))
    assert d["n_exchanges"] == 0, d


def test_rfm_bucketed_has_no_window(spark):
    """The bucketed RFM twin exists to PROVE the documented swap for the
    unpartitioned-NTILE rankers (VERDICT r5): quantile edges from one
    aggregation, scoring by broadcast CASE comparison — so its plan must
    contain no Window node at all."""
    p = plan(spark, "ml_rfm_segmentation_bucketed")
    assert "Window" not in p
    # the edge row reaches the scoring join as a broadcast
    assert "Broadcast" in p


def _window_args_partitioned(plan_text: str) -> list[bool]:
    """For each Window node's Arguments line: True iff it carries a
    partition spec.  The trailing-bracket-group heuristic is ambiguous
    (a PARTITIONED window with no ORDER BY — count(1) OVER (PARTITION
    BY f) — renders with TWO groups, same as an unpartitioned ordered
    one), so inspect the windowspecdefinition itself: its arguments
    before specifiedwindowframe are partition columns (bare refs) then
    sort items (marked ASC/DESC); a window is partitioned iff the
    FIRST argument is not a sort item and not the frame."""
    out = []
    for ln in plan_text.splitlines():
        if "windowspecdefinition" not in ln or not ln.strip().startswith("Arguments"):
            continue
        spec = ln.split("windowspecdefinition(", 1)[1]
        cols = spec.split(", specifiedwindowframe", 1)[0]
        first = cols.split(",", 1)[0]
        partitioned = (
            not cols.startswith("specifiedwindowframe")
            and " ASC" not in first
            and " DESC" not in first
        )
        out.append(partitioned)
    return out


def test_stratified_quota_plans_group_limit(spark):
    """sample_stratified_quota's rank ≤ k must plan as WindowGroupLimit
    (per-partition top-k pushdown before the shuffle) — the same
    assertion as win_topk_per_group; a plain Window+Filter here would
    sort-shuffle whole strata."""
    p = plan(spark, "sample_stratified_quota")
    assert "WindowGroupLimit" in p


def test_banded_prefix_twins_no_unpartitioned_window(spark):
    """stats_ks_two_sample_banded / stats_mannwhitney_u_banded exist to
    PROVE the range-partitioned prefix-sum swap for the KS/MW family
    (VERDICT r6 item 3): every Window node in their plans must carry a
    non-empty partition spec, and the band-offset side must be a
    broadcast theta join, not a window."""
    for key in (
        "stats_ks_two_sample_banded",
        "stats_mannwhitney_u_banded",
        "win_cumulative_share_banded",
        "agg_gini_revenue_banded",
    ):
        p = plan(spark, key)
        flags = _window_args_partitioned(p)
        assert flags, key  # the partitioned band window is there
        assert all(flags), f"{key}: unpartitioned Window present"
        assert "Broadcast" in p, key
    # the parents DO carry the unpartitioned window (that's the point of
    # the twins) — keep this pinned so the twin test stays meaningful
    parent_flags = _window_args_partitioned(plan(spark, "stats_ks_two_sample"))
    assert parent_flags and not all(parent_flags)


def test_pagerank_scale_form_shuffled_join(spark):
    """graph_pagerank_fixed broadcasts the O(V) rank vector — right for
    its contract, fatal at web scale.  The documented swap
    (broadcast_rank=False → vertex-centric shuffled join on src) must
    (a) plan as a shuffled join, not a broadcast of rank, and (b) stay
    value-identical to the declared broadcast form."""
    import contextlib
    import io

    from etl_builder_spark.operators.pagerank import _pagerank_result

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _pagerank_result(spark, SF_DIR, broadcast_rank=False)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        rows_scale = sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    rows_decl = sorted(
        map(tuple, REGISTRY["graph_pagerank_fixed"].fn(spark, SF_DIR).collect())
    )
    assert rows_scale == rows_decl


def test_partsupp_queries_scan_shapes(spark):
    """Round-8 partsupp suite: the derived table is shuffle-free to
    build (projection x broadcast literals), Q20 touches lineitem
    exactly once, and Spearman/Kendall read lineitem once via their
    persisted shared frames."""
    from etl_builder_spark.operators.tpch_partsupp import derived_partsupp
    from etl_builder_spark.plans.audit import plan_digest

    d = plan_digest(derived_partsupp(spark, SF_DIR))
    # the only exchange is the 1-row supplier-count reduction
    assert d["n_exchanges"] <= 1, d
    assert d["scans"] == {"part.parquet": 1, "supplier.parquet": 1}, d

    d20 = plan_digest(REGISTRY["tpch_q20_potential_promotion"].fn(spark, SF_DIR))
    assert d20["scans"].get("lineitem.parquet", 0) == 1, d20

    for key in ("stats_spearman_rho", "stats_kendall_tau_binned"):
        dk = plan_digest(REGISTRY[key].fn(spark, SF_DIR))
        assert dk["scans"].get("lineitem.parquet", 0) == 1, (key, dk)
        assert dk["forbidden"] == [], (key, dk)


#: intentional plan changes: key → one-line justification.  An entry
#: here silences the cross-round fingerprint gate for that key until
#: PLAN_FINGERPRINTS.json is regenerated (``python
#: tests/emit_plan_fingerprints.py``), at which point the entry goes
#: STALE and the gate demands its removal — drift can be acknowledged,
#: never forgotten.
SHAPE_DRIFT_ALLOWLIST: dict[str, str] = {}


def test_shape_hash_ignores_cache_state_text():
    """Pure-text pin for the round-14 gate-flake fix: the shape hash
    must not move when a subtree gains cache-materialization wrapper
    nodes (InMemoryTableScan / InMemoryRelation) around the same
    operators, and file:-prefixed single-segment paths must normalize
    (ADVICE r14) so host temp dirs can't destabilize fine hashes."""
    from etl_builder_spark.plans.audit import (
        normalize_plan,
        plan_shape_hash,
    )

    expanded = "(1) HashAggregate\n(2) Exchange\n(3) Scan parquet \n"
    cached = (
        "(1) InMemoryTableScan\n(2) InMemoryRelation\n"
        "(3) HashAggregate\n(4) Exchange\n(5) Scan parquet \n"
    )
    assert plan_shape_hash(expanded) == plan_shape_hash(cached)
    # structural changes still move it
    assert plan_shape_hash(expanded) != plan_shape_hash(
        "(1) HashAggregate\n(2) Exchange\n(3) Exchange\n(4) Scan parquet \n"
    )
    assert "<path>" in normalize_plan("Location: [file:/spilldir]")
    # a bare division must NOT collapse (the ADVICE r13 regression)
    assert "x/100.0" in normalize_plan("Project [x/100.0 AS pct]")


def test_plan_shape_fingerprints_cross_round(spark):
    """VERDICT r13 item 1: the committed PLAN_FINGERPRINTS.json is the
    cross-round plan-SHAPE baseline; this test recomputes every key's
    operator-shape hash from a fresh Catalyst plan (analysis +
    optimization only, nothing executes) at the artifact's SF and
    fails on any unallowlisted drift — an extra Exchange, a lost
    pushdown, a join-strategy flip now breaks the suite instead of
    waiting for a judge to diff the artifact.  Fine hashes are NOT
    gated: 58 keys are Catalyst-unstable at that granularity (the
    artifact lists them); the shape hash is the load-bearing one.
    Live-streaming keys are skipped (their fn executes a streaming
    query; their batch twins pin the plan surface)."""
    import json
    from pathlib import Path

    from etl_builder_spark.plans.audit import canonical_plan_hashes

    artifact = json.loads(
        (Path(__file__).resolve().parent.parent / "PLAN_FINGERPRINTS.json").read_text()
    )
    committed = artifact["shapes"]
    # the SF the artifact was emitted at — hashes are only comparable
    # against plans built over the SAME files (stats drive broadcast
    # decisions); on a host without that corpus, skip rather than error
    # (ADVICE r14)
    fp_sf = artifact.get("sf_dir", "/root/testdata/sf0.1")
    import os

    if not os.path.isdir(fp_sf):
        pytest.skip(f"fingerprint corpus absent: {fp_sf}")

    drift = {}
    computed = {}
    for name, spec in _plannable_specs():
        # the emitter's exact build-and-hash path (canonical cache state)
        _, h = canonical_plan_hashes(spark, spec.fn, fp_sf)
        computed[name] = h
        if committed.get(name) != h and name not in SHAPE_DRIFT_ALLOWLIST:
            drift[name] = {"committed": committed.get(name), "now": h}

    missing = sorted(set(computed) - set(committed))
    assert not missing, f"keys absent from PLAN_FINGERPRINTS.json: {missing}"
    assert not drift, (
        f"{len(drift)} plan SHAPES drifted from the committed baseline "
        f"(intentional? allowlist + regenerate with tests/emit_plan_fingerprints.py): {drift}"
    )
    stale = sorted(
        k for k in SHAPE_DRIFT_ALLOWLIST if committed.get(k) == computed.get(k)
    )
    assert not stale, f"stale allowlist entries (artifact regenerated): {stale}"


def test_rangesplit_lead_lag_exact_and_bounded(spark):
    """win_lead_lag_rangesplit (round 14, VERDICT r13 item 2) must
    (a) equal its unsalted twin row-for-row — the whole point of a
    declared escape hatch is that it changes the PLAN, never the
    answer — and (b) contain NO window partitioned by user_id alone:
    every event-level window must carry the band column, so the max
    partition is one band of one user (time-range-bounded), not one
    user's whole history.  The per-user window over BANDS in the halo
    table is allowed — its partition size is time-span/band-width,
    independent of data volume — and is distinguished by running over
    the edge aggregate, not the events relation."""
    a = REGISTRY["win_lead_lag"].fn(spark, SF_DIR)
    b = REGISTRY["win_lead_lag_rangesplit"].fn(spark, SF_DIR)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb, f"rangesplit twin diverged: {len(ra)} vs {len(rb)} rows"

    p = plan(spark, "win_lead_lag_rangesplit")
    import re

    # every windowspecdefinition partitioned by user_id must also band
    for ln in p.splitlines():
        if "windowspecdefinition" not in ln:
            continue
        spec = ln.split("windowspecdefinition(", 1)[1]
        cols_part = spec.split(", specifiedwindowframe", 1)[0]
        if re.match(r"user_id#\d+", cols_part.strip()):
            # partitioned by user_id first — must carry band next,
            # unless it orders by band (the halo meta-window)
            head = ",".join(cols_part.split(",")[:2])
            assert "band" in head, f"user-only window partition: {ln.strip()[:160]}"


def test_rangesplit_sessionize_exact_and_bounded(spark):
    """sessionize_events_gap_rangesplit (round 15, VERDICT r14 item 5)
    must (a) equal the parent sessionizer row-for-row — sessions that
    CROSS band boundaries must reassemble under the same global
    session_seq — and (b) contain NO window partitioned by user_id
    alone over event rows: the intra-band flag/prefix windows carry
    the band column, and the only per-user windows run over BAND
    aggregates (halo + carry), whose partition size is time-span/
    band-width, independent of data volume."""
    a = REGISTRY["sessionize_events_gap"].fn(spark, SF_DIR)
    b = REGISTRY["sessionize_events_gap_rangesplit"].fn(spark, SF_DIR)
    cols = sorted(a.columns)
    assert cols == sorted(b.columns)
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb, f"sessionize twin diverged: {len(ra)} vs {len(rb)} rows"

    p = plan(spark, "sessionize_events_gap_rangesplit")
    import re

    for ln in p.splitlines():
        if "windowspecdefinition" not in ln:
            continue
        spec = ln.split("windowspecdefinition(", 1)[1]
        cols_part = spec.split(", specifiedwindowframe", 1)[0]
        if re.match(r"user_id#\d+", cols_part.strip()):
            head = ",".join(cols_part.split(",")[:2])
            assert "band" in head, f"user-only window partition: {ln.strip()[:160]}"
