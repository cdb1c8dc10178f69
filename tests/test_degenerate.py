"""Degenerate-shape robustness pins (round 12, VERDICT r11 item 1).

The full 474-key × 4-shape parity matrix runs through ``selfcheck.py``
(committed artifacts ``CORRECTNESS_LOCAL_r12_degenerate_*.json``); this
module pins one representative key per FAILURE CLASS the round-12 sweep
found and fixed, so a regression in any class fails fast in CI instead
of waiting for the next full sweep:

- DIVIDE_BY_ZERO from Bessel/variance denominators (``agg_stats``)
- vanishing global-summary rows (``stats_hill_tail_index``)
- fold keys slicing negative lengths (``ts_holt_linear_fold``)
- ML fits on empty/duplicate corpora (``sim_knn_ivf``, PQ codebooks)
- duplicate-primary-key corpora (dedup/multimodal/blob families)
- dynamic-schema discovery keys (``pivot_dynamic_discovered``)
- empty partitioned layouts and zero-match globs
- (sixth shape, extremetext) engine case-mapping divergence pins
  (fold_lower/fold_upper), ASCII-trim pins, JSON-validity guards,
  byte-vs-codepoint levenshtein pins, zero-vector/empty-array guards
"""

from __future__ import annotations

import tempfile

import duckdb
import pytest

import degenerate_corpora
from etl_builder_spark.registry import REGISTRY, _ensure_loaded
from etl_builder_spark.session import TABLES
from selfcheck import check_query_parity

_ensure_loaded()

#: one representative per fixed failure class, swept over all 4 shapes
CLASS_REPS = [
    "agg_stats",                 # try_divide on n-1 variance
    "stats_hill_tail_index",     # global-agg summary row survives empty
    "stats_wasserstein_binned",  # absent arm + global term sum
    "ts_holt_linear_fold",       # safe slice + try_element_at fold
    "ts_kalman_local_level",     # recursive-CTE seed totalization
    "funnel_three_stage",        # NULLIF conversion ratios
    "ml_mcc_binary_gate",        # empty confusion margins
    "ml_gmm_em_step_binned",     # sqrt(negative-by-cancellation) guard
    "agg_grouping_sets",         # lattice-on-empty HAVING pin
    "agg_theil_atkinson",        # −0.0 canonicalization
    "dedup_cluster_components",  # duplicate ids are one graph vertex
    "ml_dbscan_grid",            # subset-robust closed-form oracle
    "multimodal_audio_stats",    # id-keyed asset semantics
    "scan_binaryfile_blobs",     # one blob per id
    "pivot_dynamic_discovered",  # dynamic schema subset compare
    "stats_qq_deciles",          # literal grid + left joins
    "udf_grouped_map",           # NaN for undefined z
    "ts_interarrival_profile",   # zero-gap cv
    "scan_dpp_partitioned",      # schema-declared empty layout read
    "scan_glob_paths",           # zero-match glob → empty summary
    "dq_referential_coverage",   # 0-child coverage NULL
    "stream_dedup_watermark_live",  # DISTINCT oracle under dup ids
    # --- nullmeasures classes (fifth shape) ---
    "stats_mannwhitney_u",       # complete-case statistics
    "agg_boolean_any",           # total boolean flags
    "win_ntile_quartiles",       # pinned NULL ordering
    "etl_sort_key_run_counts",   # null-safe run boundaries
    "udaf_grouped_agg",          # UDF seams mirror SQL NULL semantics
    "stream_merge_upsert_live",  # merge key skips unknown values
    "scan_csv_corrupt_permissive",  # NULL serializes as empty field
    # --- extremetext classes (sixth shape, round-12 continuation) ---
    "text_tokenize_counts",      # fold_lower İ pin in the tokenizer
    "dedup_exact_normalized",    # ASCII-trim pin + fold_upper fixture
    "fn_string",                 # fold_upper ß pin
    "fn_json",                   # json_valid guard + TRY_CAST extraction
    "fn_json_variant",           # try_parse_json malformed tolerance
    "text_pmi_bigrams",          # zip_with bigrams (sequence(1,0) descends)
    "text_token_bpeish",         # try_element_at on empty match lists
    "er_blocked_fuzzy_match",    # byte-vs-codepoint levenshtein pin
    "er_sorted_neighborhood",    # TRY_CAST sentinel sort key
    "udtf_tokenize_pos",         # Python-vs-SQL empty-token semantics
    "dedup_minhash_lsh",         # zero-vector guard for MinHashLSH
    "stats_anova_oneway",        # decimal→double via string round-trip
    # --- nanmeasures classes (seventh shape, round 13) ---
    "agg_pricing_summary",       # nanpin'd money casts (the 89-key class)
    "agg_higher_moments",        # nan_to_null at the measure→BIGINT cast
    "fn_math",                   # sign/ceil/floor NaN-absorption pins
    "agg_histogram",             # NaN has no bin (NULL-bin when-guard)
    "dq_observe_metrics",        # NaN-poisoning MIN/MAX guarded in-agg
    "udf_grouped_map",           # pandas skipna ≡ guarded window moments
    "er_weighted_linkage",       # floor(NaN).toLong silent-zero pin
    "stats_levene_brownforsythe",  # quantile_cont interpolates NaN — guarded
    # --- skewed classes (eighth shape, round 13) ---
    "sessionize_events_gap",     # one user owns 99% of events (hot session partition)
    "win_topk_per_group",        # hot group in a ranking window
    # --- negmeasures classes (ninth shape, round 13) ---
    "dq_benford_deviation",      # first SIGNIFICANT digit via ABS
    "agg_theil_atkinson",        # positive-domain pin on log terms
    "ml_feature_binning_woe",    # DuckDB // truncates, Spark floors
    # --- extremedates classes (tenth shape, round 14) ---
    "cohort_weekly_retention",   # DuckDB datediff('week') ISO-week seam
    "ts_autocorr_grid",          # zero-variance ACF arm → pinned 0.0
    "stream_interval_join_live",  # pre-epoch event-time = late-by-construction
    "ts_calendar_dim",           # daily spine over an epoch-straddling range
    "win_lead_lag_rangesplit",   # band arithmetic at negative epochs
]

SHAPES = (
    "empty", "single", "allequal", "onegroup", "nullmeasures", "extremetext",
    # round 13: IEEE-NaN measures (the nan_to_null / nanpin gate),
    # heavy key skew (hot-key single-partition hazards), and negated
    # measures (refund-ledger sign conventions)
    "nanmeasures", "skewed", "negmeasures",
    # round 14: adversarial calendars — negative epochs, microsecond
    # window edges, month-end arithmetic, far-future (ns-horizon-capped)
    "extremedates",
)


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    root = tmp_path_factory.mktemp("degenerate")
    degenerate_corpora.build("/root/testdata/sf0.001", str(root))
    # the corpora live under a new tmp path each run, so the stages the
    # keys build for them (keyed on the absolute corpus path) must live
    # there too, or every run leaves a fresh set under the real temp dir
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", str(tmp_path_factory.mktemp("stages")))
        yield str(root)


@pytest.fixture(scope="module")
def oracles(corpora):
    cons = {}
    for shape in SHAPES:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{corpora}/{shape}/{t}.parquet')"
            )
        cons[shape] = con
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize("key", CLASS_REPS)
def test_degenerate_shapes_agree_or_defined_null(spark, corpora, oracles, key):
    """Every class representative must agree with DuckDB (or be a
    documented dynamic-schema subset / rows-only) on all four
    adversarial shapes — and never throw."""
    spec = REGISTRY[key]
    for shape in SHAPES:
        status, detail, _ = check_query_parity(
            spark, oracles[shape], key, spec, f"{corpora}/{shape}"
        )
        assert status in ("OK", "ROWS-ONLY", "DYNAMIC-SCHEMA-OK"), (
            f"{key} on {shape}: {status} — {detail}"
        )
