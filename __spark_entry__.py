"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``kafka_go_streamer_spark``; this module only
adapts it to the driver contract.

Ordering matters: the driver verifies the FIRST 50 entries of
``queries()`` in insertion order, so we put queries that have never had
a driver verdict (plus anything new this round) ahead of the names
already proven green in earlier rounds. The proven set is read from the
``CORRECTNESS_r*.json`` files the driver leaves in the repo root (every
row with rows+schema+hash all matching), seeded with the frozen
round-1/2 union below in case those files are ever absent.  A handful
of never-run queries whose core machinery is already driver-proven
through a sibling query are demoted to the back of the unverified block
(``DEMOTED``) so the window holds the riskiest 50.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from kafka_go_streamer_spark.plans import ORACLES, QUERIES

# Frozen union of CORRECTNESS_r01 + CORRECTNESS_r02 green rows (55 names,
# all pass/hash-match).  These are regression-safe to rotate out of the
# driver's 50-query window; tests/test_oracle_parity.py still runs every
# registered query locally each round.
_VERIFIED_R1_R2 = frozenset({
    "agg_conditional_pivot", "agg_count_distinct", "agg_cube",
    "agg_grouping_sets", "agg_histogram_prices", "agg_orders_by_priority",
    "agg_pricing_summary", "agg_rollup", "agg_stats",
    "agg_time_rollup_hierarchy", "ann_ivf_cells", "date_functions",
    "dedup_connected_components", "dedup_exact_assignment",
    "dedup_exact_hash", "dedup_minhash_lsh", "dedup_minhash_lsh_strict",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_winnowing_pairs", "embedding_label_centroids",
    "filter_contains", "filter_regex", "join_anti_customers_without_orders",
    "join_asof_last_purchase", "join_outer_nation_order_counts",
    "join_range_quantity_bands", "join_revenue_by_nation",
    "join_semi_customers_with_orders", "join_top_orders",
    "json_extraction", "math_functions", "multimodal_audio_meta",
    "multimodal_binary_stats", "multimodal_byte_histogram",
    "multimodal_decode_meta", "multimodal_frame_sample",
    "multimodal_resize", "project_key_value", "route_documents",
    "route_documents_counts",
    # route_events_by_type deliberately NOT seeded: its only driver row is
    # an r1 missing-fixture error (CORRECTNESS_r01), so it must sort into
    # the unverified-first window until a green verdict lands.
    "route_split_merge_roundtrip", "sample_stratified_hash",
    "set_ops_customer_cohorts", "sort_global_topk", "string_functions",
    "window_distribution_ranks", "window_lag_lead_order_gap",
    "window_moving_avg", "window_range_frame_1h",
    "window_rank_dense_ntile", "window_running_sum",
    "window_topk_parts_per_brand",
})


def _driver_verified() -> frozenset[str]:
    """All names with a fully-green driver verdict in any recorded
    round, so the 50-query window auto-rotates to whatever has not
    been proven yet."""
    seen = set(_VERIFIED_R1_R2)
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                seen.add(name)
    return frozenset(seen)


DRIVER_VERIFIED = _driver_verified()

# Never-driver-run queries whose core machinery already has a green
# driver row via a sibling, demoted to the back of the unverified block
# when the block exceeds 50:
#   text_winnowing_fingerprints  -> winnowing proven by dedup_winnowing_pairs
#   kmeans_assign_nearest_centroid -> assignment hop inside kmeans_lloyd_refine
#   join_enrich_events_broadcast -> broadcast-join family proven x7
#   text_chunking                -> pure string/sequence fns (string_functions green)
DEMOTED = (
    "text_winnowing_fingerprints",
    "kmeans_assign_nearest_centroid",
    "join_enrich_events_broadcast",
    "text_chunking",
    # round-9 demotions: 55 new queries compete for 35 window slots
    # (15 are staleness refronts), so the low-risk newcomers whose
    # machinery is already driver-proven through a sibling yield their
    # slot to the iterative/novel spill (k-core, label propagation,
    # PSI, Theil-Sen, TOST, deseasonalized anomaly). Each demoted name
    # is locally green at BOTH SFs with a pure-Python property test.
    "events_power_analysis",        # one groupBy agg + closed formula
    "retrieval_precision_recall_at_k",  # ndcg_eval's exact machinery
    "text_ttr_lexical_diversity",   # good-turing's vocab collapse
    "text_burstiness",              # same explode+count family
    "quality_encoding_check",       # in-row arithmetic (text_quality)
    "stats_anova_oneway",           # two-stage agg (welch/chi2 shape)
)

# Queries whose CODE changed since their newest green driver verdict:
# forced to the front of the window so the verdict can't go stale.
# No longer hand-curated: tests/test_rotation_staleness.py derives the
# must-refront set mechanically (ast fingerprint of each query's
# decorator+body at its green round's record commit vs now) and FAILS
# if any stale name is missing from this tuple.  Round-10 set (the 15
# r9 refronts all landed green in CORRECTNESS_r09 with code unchanged
# since, so they rotate back out):
#   events_markov_entropy_rate: p > 0 guard before ln(p) on both
#     engines (ADVICE r9 — rounded-to-zero transition probability)
#   events_cohort_half_life: retention ratio > 0 guard before the log
#     on both engines (ADVICE r9 — rounded-to-zero retention ratio)
ROTATE_FRONT = (
    # r17 OPTIMIZATION-touched spans (plans rewritten for performance,
    # outputs proven identical vs the DuckDB oracle at sf0.001+sf0.01;
    # re-front so the next driver window re-verifies each rewritten
    # plan):
    #   rank certification folded onto the exact picker's range
    #   exchange (shared exact_value_percentiles helper — quantile_bands
    #   consumes the same helper even though its own span is unchanged):
    "sketch_kll_quantiles",
    "sketch_kll_error_curve",
    "sketch_quantile_bands",
    #   three k-grid branches fused into one scan/split/explode:
    "dedup_shingle_selectivity",
    #   zero-weight self-loop edge completion, zero-fill joins removed:
    "events_hits_hubs",
    #   shared panel tokenization between the MinHash and SimHash
    #   builds (new words_col variants of with_minhash/simhash64_table):
    "dedup_lsh_scurve_empirical",
    # connected_components now drops self-loop edges up front (ADVICE
    # r16; provably output-neutral because every pair generator emits
    # id_a < id_b, but the operator span changed — refront every CC
    # consumer):
    "dedup_connected_components",
    "dedup_weak_link_audit",
    "dedup_component_size_histogram",
    "dedup_drop_bias_by_source",
    "pipeline_pretraining_full",
    "pipeline_dedup_order_sensitivity",
    "dedup_cluster_manifest",
    "dedup_cross_source_pairs",
    # VERDICT r16 #8: shared-machinery rewrites from r16 whose names
    # never got a direct driver row (their newest green verdicts
    # predate the r16 operators/dedup.py + functions/text.py rewrites):
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_strict",
    "dedup_winnow_containment",
    "text_winnowing_fingerprints",
    # r17 scaling fixes (the sf1.0 c8-vs-c32 sweep): per-byte text
    # stages ran SERIAL in the fixture's one scan task — row-aware
    # cpu_fan added (sources/tables.py); outputs oracle-identical:
    "text_quality",
    "text_bpe_pair_merges",
    "text_quality_classifier",
    "text_feature_hashing",
    "text_rake_keywords",
    "text_char_entropy",
    "text_pmi_cooccurrence",
    "text_tfidf_topterms",
    "quality_calibration_bins",
    "quality_ece_summary",
    # IVF store probes now run the one batched probe on a one-row
    # panel; the two within-cell cosine queries share one normalized
    # store scan (outputs identical to before at sf0.001 and sf0.01):
    "ann_ivf_store_probe",
    "ann_ivf_store_append_probe",
    "sim_hard_negatives",
    "dedup_embedding_drop_rule",
    # monitored tables: each query is now the merge of its own
    # streaming partials (quality_calibration_bins, re-fronted above,
    # is the fifth; rows identical to before at sf0.001 and sf0.01):
    "privacy_k_anonymity",
    "sample_language_budget",
    "storage_shard_plan",
    "pii_density_by_source",
)


def _ordered_names() -> list[str]:
    names = list(QUERIES)
    front = [n for n in ROTATE_FRONT if n in names]
    rest = [n for n in names if n not in front]
    unverified = [
        n for n in rest if n not in DRIVER_VERIFIED and n not in DEMOTED
    ]
    demoted = [n for n in DEMOTED if n in rest and n not in DRIVER_VERIFIED]
    verified = [n for n in rest if n in DRIVER_VERIFIED]
    return front + unverified + demoted + verified


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the content-based router
    (the reference's core operator) over the documents table."""
    return QUERIES["route_documents"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the driver's 50-query correctness window covers the queries with no
    prior driver verdict first (see module docstring)."""
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; queries absent here get the weaker rows-only check."""
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
