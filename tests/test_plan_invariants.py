"""Physical-plan invariants as CI assertions (round-8 verdict task 6):
the runtime `plan_invariant_audit` query's five checks, widened with a
no-global-window sweep, broadcast-dim-join checks, and a bucket-pruned
lakehouse point read. These are PLAN tests — queries are constructed
(never collected), so a Catalyst upgrade or careless edit that
re-plans a scale-critical operator fails CI before it ships.

Scale invariants asserted here (the SCALING.md claims, as code):
- no operator funnels the corpus through one WindowExec partition
- small dimension joins broadcast (no shuffle of the fact side's key)
- the bucketed join consumes its on-disk layout (zero join exchanges)
- the bloom probe is a row-local filter expression, not a join
- lakehouse point reads open only the key's bucket files
"""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F

from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY

SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def unpartitioned_windows(plan: str) -> list[str]:
    """Window operator lines running in a single global partition.

    A partitioned+ordered window prints ``Window [funcs], [partExprs],
    [sortExprs]`` (two ``], [`` separators); a partitioned unordered
    one prints ``Window [funcs], [partExprs]``; the global shape —
    which forces Exchange SinglePartition below it — prints ``Window
    [funcs], [sortExprs]``: one separator whose FINAL group is a sort
    spec (ASC/DESC markers).
    """
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-:* ").strip()
        if not s.startswith("Window ") or s.count("], [") >= 2:
            continue
        last_group = s.rsplit("], [", 1)[-1]
        if " ASC" in last_group or " DESC" in last_group:
            hits.append(s[:120])
    return hits


# -- the five runtime-audit invariants, CI-side ------------------------------

def test_bucketed_join_consumes_bucket_layout(spark):
    p = _plan(spark, "bucketed_colocated_join")
    assert "SortMergeJoin" in p
    assert "SelectedBucketsCount" in p
    # co-located by bucketBy: neither side re-shuffles on the join key
    assert "Exchange hashpartitioning(o_custkey" not in p
    assert "Exchange hashpartitioning(c_custkey" not in p


def test_bloom_probe_is_row_local(spark):
    p = _plan(spark, "bloom_semijoin_pruning")
    # scoped POSITIVELY to our probe's literal bit arithmetic — a
    # Catalyst-injected runtime bloom filter may add its own
    # might_contain, which is not a regression
    assert "shiftright" in p and "Filter" in p


def test_hard_negative_mining_is_window_free(spark):
    assert "Window" not in _plan(spark, "hard_negative_mining")


def test_salted_join_carries_the_salt(spark):
    p = _plan(spark, "skewed_join_salted")
    assert "__salt" in p and "Generate explode" in p


def test_asof_nearest_rides_one_key_exchange(spark):
    p = _plan(spark, "events_asof_nearest")
    assert p.count("Exchange hashpartitioning(user_id") == 1


# -- widened: no global-window funnel anywhere cheap to plan ------------------

# Construction-cheap batch queries spanning every window-using family.
# (Streaming queries execute inside fn; ML fits train inside fn — both
# excluded: this is a plan sweep, not an execution sweep.)
_WINDOW_SWEEP = [
    "pricing_summary", "revenue_by_nation", "top3_lineitems_per_supplier",
    "first_order_per_customer", "running_order_total",
    "order_window_functions", "rolling_week_order_value",
    "top_users_by_value", "ewma_user_value", "rolling_user_features",
    "funnel_conversion", "cohort_retention", "session_attribution",
    "session_paths", "events_hourly_gapfill", "events_asof_join",
    "events_asof_nearest", "scd2_state_intervals", "cdc_merge_upsert",
    "tokenized_documents", "tfidf", "bm25_retrieval",
    "hybrid_retrieval_rrf", "minhash_neardup_pairs", "simhash_documents",
    "dedup_canonical", "paragraph_dedup", "document_chunking",
    "document_packing", "training_order_shuffle", "value_histogram",
    "column_profile", "decile_bucketing", "knn_bruteforce_cosine",
    "ranking_function_surface", "curriculum_interleave",
    "hard_negative_mining", "matryoshka_truncation_overlap",
    "dataset_split_manifest", "leakage_safe_split",
]


def test_no_unpartitioned_window_in_sweep(spark):
    offenders = {}
    for name in _WINDOW_SWEEP:
        hits = unpartitioned_windows(_plan(spark, name))
        if hits:
            offenders[name] = hits
    assert not offenders, f"global-window funnels: {offenders}"


def test_window_detector_actually_detects():
    """Guard the guard: the detector must flag the global-window shape
    and pass the partitioned one (both real Spark 4 plan lines)."""
    bad = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS rn#2], [id#0L ASC NULLS FIRST]"
    )
    good = (
        "+- Window [row_number() windowspecdefinition(g#1L, id#0L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$())) AS rn#4], [g#1L], "
        "[id#0L ASC NULLS FIRST]"
    )
    assert unpartitioned_windows(bad)
    assert not unpartitioned_windows(good)


# -- widened: dimension joins broadcast ---------------------------------------

def test_dim_joins_broadcast(spark):
    # nation/region/customer-side dims must ride BroadcastHashJoin —
    # a shuffled SortMergeJoin against a 25-row dim is the classic
    # at-scale regression
    for name in ["revenue_by_nation", "shipping_priority",
                 "top_brands_by_revenue", "region_nation_rollup"]:
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name


# -- widened: lakehouse point read prunes to the key's bucket ----------------

def test_lakehouse_point_read_is_bucket_pruned(spark):
    from uni_mannheim_masters_thesis_spark.plans.registry import (
        _lakehouse_table_dir,
    )
    from uni_mannheim_masters_thesis_spark.sources.lakehouse import (
        read_table,
    )

    tdir = _lakehouse_table_dir(spark, SF_DIR)
    full = read_table(spark, tdir)
    point = read_table(spark, tdir, point_keys=[1])
    assert 0 < len(point.inputFiles()) < len(full.inputFiles())


# -- widened (r9 session 2): the new analytics operators ----------------------

_R9S2_WINDOW_SWEEP = [
    "markov_transitions", "distribution_drift_report", "rfm_segments",
    "market_basket_pairs", "chi_square_independence",
    "benford_digit_audit", "pmi_collocations", "heaps_vocab_growth",
    "weighted_sample_aes", "zipf_law_fit", "gini_concentration",
    "revenue_yoy_growth", "seasonal_anomaly_report", "winsorized_stats",
    "conversion_lag_percentiles", "bootstrap_mean_ci",
    "retrieval_metrics_ndcg", "ab_test_welch",
    "label_centroid_similarity", "share_of_parent_rollup",
    "scd2_point_in_time_join", "multimodal_container_parse",
    "sole_blame_suppliers", "customer_order_histogram",
    "cumulative_unique_users", "behavioral_topk_similarity",
    "replica_merkle_diff", "negative_sampling_table",
]


def test_r9s2_operators_are_window_clean(spark):
    """None of the session-2 analytics operators may plan an
    unpartitioned window — the cumsum/rank/ntile shapes they cover are
    exactly the ones that tempt a global ORDER BY window (ECDFs,
    quintiles, Zipf ranks, Gini ranks, adoption curves)."""
    offenders = {}
    for name in _R9S2_WINDOW_SWEEP:
        hits = unpartitioned_windows(_plan(spark, name))
        if hits:
            offenders[name] = hits
    assert not offenders, f"global-window funnels: {offenders}"


def test_r9s2_no_cartesian_products(spark):
    """The pair-generating operators (basket comb, centroid dots,
    drift ECDF, PIT join) must never plan an unconstrained cartesian
    product — broadcast nested loop against a bounded side is fine,
    CartesianProduct against the fact side is not."""
    for name in (
        "market_basket_pairs",
        "label_centroid_similarity",
        "distribution_drift_report",
        "scd2_point_in_time_join",
        "sole_blame_suppliers",
    ):
        assert "CartesianProduct" not in _plan(spark, name), name


def test_r9s2_dim_joins_broadcast(spark):
    """Every session-2 operator that joins a dimension must broadcast
    it (no SortMergeJoin against 25-row relations)."""
    for name in (
        "revenue_yoy_growth",
        "share_of_parent_rollup",
        "market_basket_pairs",
        "chi_square_independence",
    ):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_r9s2_topk_plans_take_ordered(spark):
    """The bounded top-k operators must plan TakeOrdered, not a global
    sort materialization."""
    for name in ("pmi_collocations", "weighted_sample_aes",
                 "sole_blame_suppliers"):
        assert "TakeOrderedAndProject" in _plan(spark, name), name


# -- SMOTE / knn_within dispatch: no driver materialization above budget ------

def test_knn_auto_dispatch_never_collects_above_budget(spark, force_dispatch):
    """knn_within(method='auto') must plan the blocked distributed
    kernel (FlatMapGroupsInPandas), NOT the driver-broadcast numpy path
    (MapInPandas), whenever the dense build side exceeds the broadcast
    budget — a minority class too big to collect gets a distributed
    plan, not a driver OOM. Both kernels are exact with the same
    (dist, id) tie-break, so dispatch must not change results."""
    from uni_mannheim_masters_thesis_spark.ml.resample import knn_within
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    force_dispatch("DENSE_BYTES", local=False)
    over = knn_within(emb, k=3)
    plan_over = over._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan_over
    assert "MapInPandas" not in plan_over
    force_dispatch("DENSE_BYTES", local=True)
    under = knn_within(emb, k=3)
    plan_under = under._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_under
    cols = ["id", "nn_id", "nn_rank"]
    assert sorted(map(tuple, over.select(*cols).collect())) == sorted(
        map(tuple, under.select(*cols).collect())
    )


def test_smote_goes_distributed_above_module_budget(spark, force_dispatch):
    """smote() resolves the kNN broadcast budget at CALL time: with the
    module constant forced to 0 the synthesis plan contains no
    driver-broadcast MapInPandas stage, and the synthetic rows are
    IDENTICAL to the broadcast path's (both kernels exact, same seeded
    interpolation) — dispatch changes the plan, never the data."""
    from uni_mannheim_masters_thesis_spark.ml import resample
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding", (F.col("label") == 0).cast("int").alias("label")
    )

    def first_elems(out):
        return sorted(
            r["x"]
            for r in out.filter(F.col("vec_id") < 0)
            .select(F.round(F.element_at("embedding", 1), 9).alias("x"))
            .collect()
        )

    baseline = resample.smote(emb, minority_label=1)
    force_dispatch("DENSE_BYTES", local=False)
    distributed = resample.smote(emb, minority_label=1)
    plan = distributed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert first_elems(distributed) == first_elems(baseline)


# -- round-10 plan shapes ------------------------------------------------------

def test_drift_report_aggregates_before_spine_join(spark):
    """distribution_drift_report must fold the corpus into <=20 cells
    BEFORE the bin spine joins (r9 ADVICE): the executed plan carries
    no SortMergeJoin anywhere — the only joins are broadcasts of 1-row
    bounds/size aggregates and the <=20-row cell relation."""
    p = _plan(spark, "distribution_drift_report")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_curation_e2e_composes_without_cartesian_or_global_window(spark):
    """The end-to-end curation DAG: no CartesianProduct (the funnel
    crossJoins are 1-row broadcast loops), and every window partitions
    (fingerprint / source) — nothing funnels the corpus through one
    partition."""
    p = _plan(spark, "curation_pipeline_e2e")
    assert "CartesianProduct" not in p
    assert not unpartitioned_windows(p)


# -- round 11: TPC-H-shape + sequential-stat plan invariants ------------------

def test_r11_queries_are_window_clean_and_broadcast(spark):
    """The round-11 relational shapes: every dim join broadcasts and
    no operator funnels the corpus through a global window. (The
    CUSUM/adoption windows partition by the series key; the AUC window
    runs over bounded score CELLS — global by construction but bounded,
    so it is exempted explicitly rather than silently.)"""
    for name in [
        "promo_revenue_share", "national_market_share",
        "important_parts_share", "top_supplier_by_revenue",
        "disjunctive_predicate_revenue", "global_sales_opportunity",
        "min_cost_supplier_per_part", "cusum_changepoint",
        "time_weighted_average", "probability_calibration_ece",
    ]:
        p = _plan(spark, name)
        assert not unpartitioned_windows(p), name
        assert "CartesianProduct" not in p, name

    for name in ["promo_revenue_share", "national_market_share",
                 "disjunctive_predicate_revenue",
                 "min_cost_supplier_per_part"]:
        p = _plan(spark, name)
        assert "BroadcastHashJoin" in p, name


def test_r11_global_scalars_are_broadcast_not_rescan(spark):
    """Q11/Q15 shapes: the global scalar (total / max) is a
    re-aggregation of the SAME grouped cells, so AQE must reuse the
    fact's shuffle stage — the final adaptive plan computes the
    per-group exchange ONCE (exactly one ShuffleQueryStage whose
    Exchange hash-partitions on the group key), never two fact
    scan+aggregate chains. Exchange reuse only materializes in the
    post-execution final plan, so this test executes the queries.
    (Q22's scalar averages a DIFFERENTLY-FILTERED subset — a second
    column-pruned dim scan is inherent there, not a regression; its
    anti-join shape is covered by the window/cartesian sweep.)"""
    for name, key in [
        ("important_parts_share", "l_partkey"),
        ("top_supplier_by_revenue", "l_suppkey"),
    ]:
        df = REGISTRY[name].fn(spark, SF_DIR)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p, name
        # the adaptive dump repeats subtrees (Final Plan + Initial
        # Plan sections) — scope the exchange count to the final plan
        final = p.split("== Initial Plan ==")[0]
        # the 1-row scalar joins keylessly → BroadcastNestedLoopJoin
        assert (
            "BroadcastHashJoin" in final
            or "BroadcastNestedLoopJoin" in final
        ), name
        # the invariant IS the reuse marker: the scalar branch consumes
        # the same shuffle stage instead of recomputing the fact
        # aggregate (exchange-count assertions are unreliable — some
        # print modes expand the reused subtree inline)
        assert "ReusedExchange" in final or "ReusedQueryStage" in final, (
            f"{name}: scalar branch recomputed the fact aggregate "
            f"instead of reusing the shuffle stage ({key})"
        )


def test_q19_fact_bounds_push_to_scan(spark):
    """The disjunctive predicate's fact-side implication
    (l_quantity <= 30 across all OR arms) must reach the parquet scan
    as a pushed filter — constraint propagation under disjunction is
    the operator's whole point."""
    p = _plan(spark, "disjunctive_predicate_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, "no PushedFilters in scan"
    pushed = m.group(1)
    assert "l_quantity" in pushed or "l_partkey" in pushed, pushed


def test_auc_prefix_scan_is_partitioned_and_quadratic_free(spark):
    """Both ranking metrics (roc_auc_exact, pr_auc_exact) compute their
    cumulative counters with the two-phase distributed prefix scan
    (ordered_prefix_sum): the plan's windows are all
    __pid-PARTITIONED (never a single-partition global sort) and there
    is no BroadcastNestedLoopJoin — the O(cells²) triangular self-join
    that cost ~10 s by a few thousand cells. The offsets join rides a
    BroadcastHashJoin on __pid."""
    for name in ["roc_auc_exact", "pr_auc_exact"]:
        df = REGISTRY[name].fn(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert not unpartitioned_windows(p), name
        # a CONDITIONED nested-loop join (range predicate like s2 >= s)
        # is the quadratic triangular shape; the bare 1-row totals
        # cross join prints no predicate and is fine
        bnlj_cond = [
            l for l in p.splitlines()
            if "BroadcastNestedLoopJoin" in l and (">=" in l or "<" in l)
        ]
        assert not bnlj_cond, (
            f"{name}: quadratic triangular join crept back in: {bnlj_cond}"
        )
        assert "BroadcastHashJoin" in p, name


def test_q6_predicates_and_projection_reach_the_scan(spark):
    """forecast_revenue_change (Q6 shape) is a scan-only aggregate: all
    three predicates must appear as PushedFilters and ReadSchema must
    carry only the needed columns — at scale this query's cost is
    whatever the pushdown fails to prune."""
    # the default 100-char metadata budget truncates the filter list
    # mid-entry ("GreaterThanOrEqual(l_shipda...") — widen it so the
    # assertion reads the whole pushdown
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        p = _plan(spark, "forecast_revenue_change")
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, "no PushedFilters"
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert rs, "no ReadSchema"
    cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert cols <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    }, cols
    assert "Join" not in p


def test_flagged_subsecond_queries_are_exchange_free(spark):
    """r12 verdict item 2: the two queries that tripped the driver's
    2x-pin gate on sub-second deltas have PLAN-INVARIANT shapes —
    bpe_subword_counts is one whole-stage projection over a pruned
    2-column scan (no Exchange), multimodal_resize exactly one
    MapInPandas pass over the same pruned scan. Any future plan
    regression (extra Exchange, lost column pruning, a second Python
    crossing) fails CI here instead of surfacing as bench jitter."""
    p = _plan(spark, "bpe_subword_counts")
    assert "Exchange" not in p, p
    assert p.count("FileScan") == 1, p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p, p

    p2 = _plan(spark, "multimodal_resize")
    assert "Exchange" not in p2, p2
    assert p2.count("MapInPandas") == 1, p2
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p2, p2


def test_r12_shapes_push_filters_and_broadcast_dims(spark):
    """The three round-12 TPC-H shapes keep the scan/broadcast
    discipline: selective predicates reach the parquet scan, column
    pruning holds, dimension arms broadcast, and no cartesian product
    appears anywhere."""
    p9 = _plan(spark, "part_type_profit")
    assert re.search(r"Contains\(p_name#\d+, widget\)", p9), p9
    assert p9.count("BroadcastHashJoin") == 4, p9
    assert "CartesianProduct" not in p9
    # fact scan pruned to the 6 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," in p9, p9

    p10 = _plan(spark, "returned_item_ranking")
    assert re.search(r"l_returnflag#\d+ = R\)", p10), p10
    assert re.search(r"o_orderdate#\d+ >= 1996-01-01", p10), p10
    assert "CartesianProduct" not in p10
    assert "TakeOrdered" in p10, p10               # top-20, no global sort

    p12 = _plan(spark, "shipping_delay_priority_counts")
    assert re.search(r"l_shipdate#\d+ >= 1997-01-01", p12), p12
    assert "CartesianProduct" not in p12
    assert unpartitioned_windows(p12) == []


def test_incremental_dedup_serve_path_never_rescans_corpus(spark):
    """The nightly-increment contract as a plan assertion: the serve
    path reads the documents table AT MOST once (the arriving id
    list; the batch's tokenize+hash lineage is checkpointed), gets
    the corpus side exclusively from the persisted index parquet,
    and contains no cartesian product."""
    p = _plan(spark, "incremental_fuzzy_dedup")
    assert p.count("documents.parquet") <= 1, p
    assert "umt_minhash_index" in p, p  # corpus side = the index files
    assert "CartesianProduct" not in p
