"""Query registry — assembly module.

This module re-exports every name the per-family modules define (tests
and the driver import helpers from ``plans.registry``), then applies
the deterministic driver ordering. Import order: the shared infra
first, then each family module (whose ``@_register`` calls fill the
shared REGISTRY), then the ordering below.
"""

from . import _shared
from . import q_relational, q_text, q_similarity, q_events
from . import q_lakehouse, q_sources, q_ml, q_curation
from . import q_suites  # LAST: suites compose other queries' oracle SQL

for _mod in (
    _shared, q_relational, q_text, q_similarity, q_events,
    q_lakehouse, q_sources, q_ml, q_curation, q_suites,
):
    globals().update(
        {k: v for k, v in vars(_mod).items() if not k.startswith("__")}
    )
del _mod


# The eight consolidated suites re-run plans that their fine-grained
# component queries already execute; bench.py skips them so the headline
# total counts each plan once (r01-comparable).
_DRIVER_SUITES: frozenset[str] = frozenset({
    "set_ops_nations", "text_profile", "artifact_formats_roundtrip",
    "training_prep_manifest", "streaming_windowed_suite",
    "streaming_stateful_suite", "topic_quality_suite", "resampling_report",
    "multimodal_pipeline", "curation_suite",
    # not a suite, but the same skip rationale: it re-runs the
    # sessionization + interval-join PLANS the streaming suites already
    # execute, 12 micro-batches each — multi-batch state-store
    # evidence, not new plan coverage, so it would double-count those
    # plans (plus ~20 s of per-trigger fixed cost) in the headline
    "streaming_throughput_report",
    # same rationale again: the plan audit re-plans five other registry
    # queries (each already timed individually in the headline) purely
    # to inspect their physical plans — counting it would double-bill
    # those constructions. tests/test_plan_invariants.py carries the
    # widened CI-side version of the same checks.
    "plan_invariant_audit",
    # round 12 (verdict item 1): the composite battery re-runs the
    # exact per-model fits the seven battery_* entries time
    # individually; benching it too would both double-count ~10s of
    # fits AND reintroduce the end-of-sequence memory-pressure wall
    # swings (8-24s on identical code) that masked real regressions
    # for two rounds. The composite stays registered for the driver's
    # correctness walk (end-to-end M5-M23 contract, incl. MLP and the
    # concurrent-fit scale pattern).
    "classifier_battery",
    # r12 late: the chunking-invariance replay re-runs the incremental
    # dedup operator's plan four times (3 increments + single-shot) —
    # multi-increment evidence, not new plan coverage
    "multi_increment_dedup_replay",
})

# Driver-check ordering. The driver's correctness gate walks
# ``queries()`` in registry order and checks the first 50 entries, so
# the registry is ordered by a stable sort on two keys:
#   1. ``_DRIVER_PRIORITY`` (the 50-query window) first;
#   2. within each block, oracle-backed queries (rows+schema+hash
#      verdict) before rows-only ones.
# Ties keep registration order. Ordering changes no result; which
# queries the driver has hash-verified is read from the committed
# CORRECTNESS_r*.json artifacts (tests/test_coverage.py).
_DRIVER_PRIORITY: frozenset[str] = frozenset({
    # TPC-H Q9/Q10/Q12 shapes and the incremental fuzzy dedup pair
    "part_type_profit", "returned_item_ranking",
    "shipping_delay_priority_counts", "incremental_fuzzy_dedup",
    "multi_increment_dedup_replay",
    # refresh: queries whose last driver hash was CORRECTNESS_r01
    "document_fingerprints", "acctbal_percentiles",
    "customers_with_open_order", "embedding_norm_stats",
    "event_type_share", "events_hourly", "top_users_by_value",
    "acctbal_stats_by_segment", "customers_with_both_statuses",
    "customers_without_orders", "events_json_extract",
    "events_sessionization", "order_status_cube",
    "order_window_functions", "running_order_total", "text_quality",
    "token_stats", "union_all_entity_counts", "doc_length_classes",
    "pricing_summary", "top_brands_by_revenue", "customer_order_class",
    # refresh: last hashed in the r6 / r7 windows
    "concat_segment_name", "sorted_topic_vectors", "text_profile",
    "set_ops_nations", "multimodal_pipeline", "simhash_documents",
    "replace_rewrite", "cross_source_containment",
    "mixture_sampling_manifest", "pii_redaction", "document_chunking",
    "training_order_shuffle", "cdc_merge_upsert", "repetition_quality",
    "tokenized_documents", "scd2_state_intervals",
    "benchmark_contamination", "heavy_hitters_sketch", "tfidf",
    "bm25_retrieval", "semantic_dedup_srp", "leakage_safe_split",
    "paragraph_dedup",
})

REGISTRY = dict(
    sorted(
        REGISTRY.items(),
        key=lambda item: (
            item[0] not in _DRIVER_PRIORITY, item[1].sql is None
        ),
    )
)
