"""Double-run determinism guard: the driver may retry or re-run any
query; a result that differs between two executions in one session
(rand(), unpinned ties, partition-order leakage, scratch-path reuse)
would pass a single-shot oracle check and still flake the gate. Run a
representative slice — every mechanism family that COULD be
order-sensitive — twice and require identical multisets."""

from __future__ import annotations

import os

import pytest

from wireduck_spark.registry import load_all_queries
from wireduck_spark.sources.pcap_queries import FIXTURE

QUERIES = load_all_queries()

# One per risk family: hash sampling, two-pass global rank, range
# window, LSH bucketing, driver-loop iteration, scratch-dir writers,
# pattern windows, bootstrap weights.
NAMES = [
    "sampling_bernoulli",
    "window_percent_cume",
    "agg_gini_coefficient",
    "stats_mann_whitney_u",
    "window_trailing_interval",
    "pipeline_rag_eval_mrr_lsh",
    "embed_hard_negatives_lsh",
    "pcap_quic_vn_downgrade",
    "stats_bootstrap_ci",
    "event_pattern_three_rises",
    "io_incremental_file_ledger",
    "shuffle_deterministic_shards",
    # round-7 continuation families: IVF cell-assignment ties, struct
    # arg-min keep-selection, rank-trimmed means, BH step-up ranking
    "pipeline_rag_eval_mrr_ivf",
    "dedup_keep_best",
    "agg_trimmed_mean",
    "stats_benjamini_hochberg",
    # round-8 continuation families: iterative label voting (tie folds
    # across 3 checkpointed hops), AUC/Spearman midrank reuse
    "graph_label_spread_nation",
    "stats_roc_auc",
    "stats_spearman_corr",
    # round-9 families: sort_array(collect_list(...)) stateful folds
    # (CUSUM / MACD — collect_list order is nondeterministic and ONLY
    # the sort_array makes the fold replayable), constant-pmod window
    # series, milli-share split gains, quantized centroid distances
    "stats_cusum_drift",
    "window_macd_ema",
    "stats_acf_daily_lags",
    "feature_gini_split_gain",
    "embed_centroid_spread",
    # round-10 families: week-blocked pair joins (join-order-insensitive
    # integer counters), lagged-moment OLS over a constant-pmod window,
    # scratch-dir parquet re-read (flow export overwrites a shared tmp
    # path — a second run must see its own write, not a stale one)
    "stats_kendall_tau_weekly",
    "stats_granger_lagged_daily",
    "text_burstiness_vmr",
    pytest.param(
        "pcap_flow_export_sink",
        marks=pytest.mark.skipif(not os.path.exists(FIXTURE),
                                 reason="fixture not present"),
    ),
    "quality_benford_first_digit",
    "stats_cramers_v_source_lang",
    "stats_weekday_effect_anova",
    "stats_theil_sen_weekly",
    "stats_mann_kendall_weekly",
    # round-10: GK quantile-sketch merge order — approx_percentile must
    # be stable across re-runs on the same files/partitioning (the
    # within_tol booleans absorb estimate drift, but the determinism
    # contract is that there IS none in one session)
    "sketch_quantile_contract",
]


@pytest.mark.parametrize("name", NAMES)
def test_double_run_identical(spark, sf_dir, name):
    fn = QUERIES[name].fn
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b, f"{name} is nondeterministic across runs"
    assert a, f"{name} returned no rows"
