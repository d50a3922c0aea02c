"""Catalog aggregator: importing this module registers every query
family into ``CATALOG`` (see ``registry.py`` for parity conventions)."""

from .registry import CATALOG, QuerySpec, register  # noqa: F401

from . import q_core  # noqa: E402,F401
from . import q_agg  # noqa: E402,F401
from . import q_window  # noqa: E402,F401
from . import q_join  # noqa: E402,F401
from . import q_ml  # noqa: E402,F401
from . import q_ts  # noqa: E402,F401
from . import q_pipeline  # noqa: E402,F401
from . import q_ml2  # noqa: E402,F401
from . import q_anomaly  # noqa: E402,F401
from . import q_anomaly_full  # noqa: E402,F401
from . import q_misc  # noqa: E402,F401
from . import q_lsh  # noqa: E402,F401
from . import q_range  # noqa: E402,F401
from . import q_bands  # noqa: E402,F401
from . import q_enrichment  # noqa: E402,F401
from . import q_composites  # noqa: E402,F401
from . import q_fitness_risk  # noqa: E402,F401
from . import q_retrieval  # noqa: E402,F401
from . import q_incremental  # noqa: E402,F401
from . import q_funnel  # noqa: E402,F401
from . import q_graph  # noqa: E402,F401
from . import q_skew  # noqa: E402,F401
from . import q_layout  # noqa: E402,F401


# The external correctness harness that imports ``__spark_entry__.py``
# snapshots only the FIRST 50 entries of the catalog's iteration order,
# so those 50 are the entries it checks.  Each round the window is
# rebuilt by one rule: front the entries with no row in any
# ``CORRECTNESS_r*.json`` (plus any the last verdict names as
# highest-risk), then pad to 50 with the stalest names reported by
# ``python scripts/check_parity.py --staleness``.  The remaining entries
# follow in registration order; nothing reads their order.
WINDOW_SIZE = 50
WINDOW = (
    # no external correctness row yet
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
    # verdict-named highest-risk paths (driver-side solves, streaming
    # collapse, hash-join flips, fused aggregation, deferred dots)
    "g3_bfs_hops", "g5_kcore", "g6_label_propagation", "x12_bpe_merges",
    "i3_stream_window_replay", "i4_stream_join_replay",
    "i8_stream_runs_replay", "i9_stream_outer_join_replay",
    "c18_cluster_safe_split", "v9_semantic_dedup",
    "d10_performance_trends", "v12_mips_norm_pruned",
    # stalest-evidence pad, sorted
    "d3_minhash_lsh_pairs", "d4b_simhash_pairs", "d6_decontamination",
    "d8_containment_pairs", "g1_pagerank", "i1_incremental_dedup_replay",
    "i5_stream_dedup_replay", "i6_stream_session_replay",
    "i7_cdc_versioned_replay", "j14_scd2_lookup", "j7_nearest_date_asof",
    "j9_backward_asof", "m14_star_rating", "m15_training_gaps",
)


def put_first(window) -> None:
    """Reorder ``CATALOG`` in place so ``window`` comes first, in its
    order.  Raises ``ValueError`` (leaving ``CATALOG`` untouched) unless
    ``window`` is ``WINDOW_SIZE`` distinct catalog names."""
    window = list(window)
    if len(window) != WINDOW_SIZE:
        raise ValueError(f"window must hold {WINDOW_SIZE} names, got {len(window)}")
    dupes = sorted({n for n in window if window.count(n) > 1})
    if dupes:
        raise ValueError(f"window has duplicates: {dupes}")
    unknown = [n for n in window if n not in CATALOG]
    if unknown:
        raise ValueError(f"window names not in the catalog: {unknown}")
    ordered = {n: CATALOG[n] for n in window}
    ordered.update((n, s) for n, s in CATALOG.items() if n not in ordered)
    CATALOG.clear()
    CATALOG.update(ordered)


put_first(WINDOW)
