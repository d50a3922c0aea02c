"""The catalog's first 50 entries are the window the external
correctness harness checks: pin their exact order and the full set of
catalog names."""

from __future__ import annotations

import os

import pytest

from garmin_performance_analysis_spark.harness.catalog import CATALOG

NAMES_FILE = os.path.join(os.path.dirname(__file__), "fixtures", "catalog_names.txt")

PINNED_WINDOW = [
    "a32_winsorized_mean", "a33_mad_robust_scale", "a35_grouped_mode",
    "c22_leave_last_out_split", "c23_source_contamination_matrix",
    "c25_context_budget_curve", "d11_minhash_calibration",
    "g7_degree_powerlaw", "g8_hits", "k4_range_partition_planner",
    "mm8_scene_cuts", "o14_map_precision_recall",
    "o15_bradley_terry_strengths", "t20_binary_segmentation",
    "t21_ljung_box", "t22_bh_fdr", "t23_seasonal_mann_kendall",
    "v13_centroid_drift_matrix", "x29_distinct_ngram_diversity",
    "x30_unigram_js_source_drift", "x31_tokenizer_fertility",
    "x32_pmi_collocations", "x33_judge_agreement_kappa",
    "x34_gopher_quality_rules",
    "g3_bfs_hops", "g5_kcore", "g6_label_propagation", "x12_bpe_merges",
    "i3_stream_window_replay", "i4_stream_join_replay",
    "i8_stream_runs_replay", "i9_stream_outer_join_replay",
    "c18_cluster_safe_split", "v9_semantic_dedup",
    "d10_performance_trends", "v12_mips_norm_pruned",
    "d3_minhash_lsh_pairs", "d4b_simhash_pairs", "d6_decontamination",
    "d8_containment_pairs", "g1_pagerank", "i1_incremental_dedup_replay",
    "i5_stream_dedup_replay", "i6_stream_session_replay",
    "i7_cdc_versioned_replay", "j14_scd2_lookup", "j7_nearest_date_asof",
    "j9_backward_asof", "m14_star_rating", "m15_training_gaps",
]


def test_window_order_and_catalog_names_are_pinned():
    assert list(CATALOG)[:50] == PINNED_WINDOW
    with open(NAMES_FILE) as f:
        names = f.read().split()
    assert len(names) == len(CATALOG) == 266
    assert set(CATALOG) == set(names)


def test_window_constant_is_the_catalog_front():
    from garmin_performance_analysis_spark.harness.catalog import WINDOW

    assert list(CATALOG)[:50] == list(WINDOW)


@pytest.mark.parametrize(
    "window, match",
    [
        (PINNED_WINDOW[:49], "50 names"),
        (PINNED_WINDOW[:49] + PINNED_WINDOW[:1], "duplicates"),
        (PINNED_WINDOW[:49] + ["no_such_entry"], "not in the catalog"),
    ],
    ids=["short", "duplicate", "unknown"],
)
def test_invalid_window_raises(window, match):
    from garmin_performance_analysis_spark.harness.catalog import put_first

    before = list(CATALOG)
    with pytest.raises(ValueError, match=match):
        put_first(window)
    assert list(CATALOG) == before
