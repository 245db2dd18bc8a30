"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in the ``aws_etl_bank_spark`` package; this
module only adapts its query registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Slot policy (round 17, per the r16 verdict task 2): slot 1 is the
# PERMANENT driver-environment canary (r13 task 2) — one cheap 3-row
# aggregate emitting every value class the driver's bitwise hash has
# to handle, including the windowed-SUM(BIGINT) cents class behind
# r14's red.  Slots 2-16 are the 15 remaining r8-vintage entries (the
# whole r8 waterline clears this round — oldest standing driver
# evidence advances to r9).  Slots 17-46 are the first 30 of the 48
# r9-vintage oracle-backed entries in registry order.  Slots 47-50 are
# the four entries whose ORACLES changed THIS round (the r15-conversion
# precedent: re-attest first the entries whose oracle semantics are
# new): the last rows-only family — dedup_minhash_pairs/keep,
# dedup_simhash_pairs, dedup_semantic_pairs_full — converted to
# invariant-contract oracles in r17, making the registry 395/395
# oracle-backed.  The 4 displaced r9 entries join the remaining 14 as
# the r18 head (comment below).  Rotation policy (r14 task 3):
# rows-only entries are EXCLUDED from the window (a slot spent on one
# reports err:"no_oracle" — wasted attestation); _registry() asserts
# this below.
_PRIORITY = [
    # slot 1: permanent canary
    "canary_driver_hash_types",
    # slots 2-16: the 15 remaining r8-vintage entries, registry order —
    # clearing the r8 waterline entirely (verdict r16 task 2)
    "join_asof_purchase", "join_range_bands", "dedup_lines_c4",
    "dedup_substring_spans", "text_bigram_logprob",
    "text_tfidf_topterms", "text_vocab_coverage", "embed_quantize_int8",
    "dedup_ngram_containment", "mix_temperature_weights",
    "embed_dim_variance", "ann_lsh_planted_twin",
    "text_decontaminate_bloom", "stream_quantile_sketch",
    "graph_degree_distribution",
    # slots 17-46: first 30 r9-vintage oracle-backed entries, registry
    # order — advancing the oldest-evidence waterline into r9
    "sketch_hll_grouped", "stream_kmv_distinct", "ts_ohlc_bucket",
    "ts_active_users_7d", "label_churn_window", "assoc_copurchase_lift",
    "ts_seasonal_strength", "feature_velocity_windows",
    "session_markov_transitions", "score_psi_drift",
    "stream_heavy_hitters", "feature_decayed_velocity",
    "quality_entropy_profile", "scale_bitmap_retention",
    "session_top_paths", "ts_lateness_profile", "ts_rollup_cascade",
    "feature_impute_group", "feature_target_encode_loo",
    "sample_class_balanced", "split_temporal_purged",
    "ml_ols_closed_form", "stream_batch_unified", "agg_mode_per_group",
    "join_interval_overlap", "agg_weighted_median", "ts_autocorrelation",
    "stream_ohlc_incremental", "csv_malformed_policy",
    "funnel_time_to_convert",
    # slots 47-50: the four rows-only→invariant conversions of r17 —
    # their oracle semantics are NEW this round, so the driver gets
    # first look (r15-conversion precedent)
    "dedup_minhash_pairs", "dedup_minhash_keep", "dedup_simhash_pairs",
    "dedup_semantic_pairs_full",
    # ---- 50-slot waterline: dedup_semantic_pairs_full is slot 50
    # r18 head: the 4 displaced + remaining 14 r9-vintage entries,
    # registry order (agg_gini_concentration, multimodal_decode_ppm,
    #  multimodal_thumbnail_vec, sample_bottomk_hash,
    #  graph_triangle_count, sample_weighted_priority,
    #  feature_hash_text, scale_heavy_hitters, embed_pca_planted_axis,
    #  sample_per_group_bottomk, multimodal_decode_wav,
    #  embed_jl_projection, dedup_substring_remove,
    #  ann_ivf_index_persisted, text_word_pmi,
    #  multimodal_audio_spectrum, graph_common_neighbors,
    #  dedup_cluster_sizes), then the r10-vintage block
]


def _registry():
    from aws_etl_bank_spark.plans.registry import load_registry

    full = load_registry()
    # a stale/typo'd slot name would otherwise vanish SILENTLY, shifting
    # every later entry up one slot and costing a round of driver
    # evidence unnoticed — the counterpart of the @q duplicate guard
    stale = [name for name in _PRIORITY if name not in full]
    if stale:
        raise ValueError(
            f"_PRIORITY names not in the registry: {stale}; fix the "
            "rotation queue before the driver evaluates a shifted window")
    if len(set(_PRIORITY)) != len(_PRIORITY):
        seen: set = set()
        dups = sorted({n for n in _PRIORITY
                       if n in seen or seen.add(n)})
        raise ValueError(
            f"_PRIORITY lists duplicated names: {dups}; the dict build "
            "would silently dedupe them and shift every later slot up "
            "one")
    # r14 verdict task 3: the driver window is attestation budget — a
    # rows-only entry in it burns a slot to report err:"no_oracle"
    # truthiness, not `is None`: oracle_sql() filters on `if
    # spec.oracle`, so an empty-string placeholder oracle would pass
    # an is-None guard yet still reach the driver as no_oracle
    rows_only = [name for name in _PRIORITY
                 if not full[name].oracle]
    if rows_only:
        raise ValueError(
            f"_PRIORITY lists rows-only entries: {rows_only}; the "
            "driver cannot adjudicate them — rotate their oracle-backed "
            "planted companions instead")
    ordered = {name: full[name] for name in _PRIORITY}
    ordered.update(full)
    return ordered


def entry(spark: SparkSession) -> DataFrame:
    """Flagship fact-snapshot query (SURVEY.md §3.1) on sf0.001."""
    from aws_etl_bank_spark.plans.flagship import build_fact_snapshot
    from aws_etl_bank_spark.session import apply_runtime_confs

    apply_runtime_confs(spark)
    return build_fact_snapshot(spark, "/root/testdata/sf0.001", fidelity=False)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry entries by name.  They expect the engine's runtime confs
    on the session: ``entry(spark)`` or ``session.get_spark`` applies
    them once, and no entry changes them."""
    return {name: spec.fn for name, spec in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _registry().items() if spec.oracle}
