"""Physical-plan regression tests: the scale properties SCALING.md
claims must stay true in the compiled plans — predicate pushdown to
parquet, column pruning, broadcast joins for dimension sides, partial
(map-side) aggregation, and top-k without a global sort."""

from __future__ import annotations

import re

from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR
from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY


@contextmanager
def _confs(spark, settings: dict[str, str]):
    """Set session confs for a test, restoring (or unsetting) them even
    if one of the sets throws — a half-applied batch must never leak
    into the shared session fixture."""
    old: dict[str, str | None] = {}
    for k in settings:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return je.explainString(mode)


def test_filter_pushed_to_parquet_scan(spark):
    plan = _formatted_plan(spark, "sorted_topic_vectors")
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,100)]" in plan


def test_column_pruning_on_wide_table(spark):
    plan = _formatted_plan(spark, "top_brands_by_revenue")
    # lineitem has 16 columns; the scan must read exactly the 3 used
    assert "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_dimension_join_is_broadcast(spark):
    plan = _formatted_plan(spark, "top_brands_by_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregation_has_map_side_partial(spark):
    plan = _formatted_plan(spark, "pricing_summary")
    assert "partial_sum" in plan


def test_topk_avoids_global_sort(spark):
    plan = _formatted_plan(spark, "top_brands_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_exact_decimal_partials_for_money(spark):
    # money sums must aggregate as decimal (order-independent), not double
    plan = _formatted_plan(spark, "pricing_summary")
    assert "decimal(18,2)" in plan


@pytest.mark.parametrize(
    "name",
    ["events_asof_join", "events_sessionization", "running_order_total"],
)
def test_single_shuffle_window_plans(spark, name):
    # the window-based operators claim exactly one exchange for their
    # window (AQE may add read-side coalescing, never extra shuffles)
    plan = _formatted_plan(spark, name)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_salted_join_equals_plain_join(spark):
    from uni_mannheim_masters_thesis_spark.operators.relational import salted_join
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    dim = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    plain = ev.join(dim, "user_id")
    salted = salted_join(ev, dim, "user_id", n_salts=4)
    assert salted.count() == plain.count()
    a = {(r["event_id"], r["c_mktsegment"]) for r in salted.collect()}
    b = {(r["event_id"], r["c_mktsegment"]) for r in plain.collect()}
    assert a == b


def test_bucketed_corpus_doc_id_joins_have_no_exchange(spark, tmp_path):
    """100 TB corpus layout (r6 verdict task 7): pre-bucketing the
    documents table AND its derived per-doc artifacts (stats, span
    manifests, quality scores) on doc_id means every re-join of an
    artifact back onto the corpus — the hourly pattern of a curation
    pipeline — plans with ZERO Exchange on either side."""
    import uuid

    db = f"bdocs_{uuid.uuid4().hex[:6]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/bwh'")
    try:
        from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

        docs = load_table(spark, SF_DIR, "documents")
        docs.write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(
            f"{db}.docs_b"
        )
        # a derived per-doc artifact, bucketed identically
        docs.select("doc_id", F.length("text").alias("q")).write.bucketBy(
            8, "doc_id"
        ).sortBy("doc_id").saveAsTable(f"{db}.docstats_b")
        corpus = spark.table(f"{db}.docs_b")
        stats = spark.table(f"{db}.docstats_b")
        with _confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = corpus.join(stats, "doc_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # both sides co-located
            assert joined.count() == docs.count()
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # bucketing both sides on the join key co-locates the join: the
    # compiled plan must contain NO Exchange (SCALING §3). AQE is
    # irrelevant here — bucketed scans report the hash distribution.
    import uuid

    db = f"bucketdb_{uuid.uuid4().hex[:6]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    try:
        from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

        orders = load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
            f"{db}.orders_b"
        )
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
            f"{db}.lineitem_b"
        )
        ob = spark.table(f"{db}.orders_b")
        lb = spark.table(f"{db}.lineitem_b")
        # disable auto-broadcast so the planner exercises the bucketed
        # sort-merge path (with broadcast on, these tiny tables would
        # broadcast and bucketing is moot)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # co-located
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_grouped_map_trend_matches_relational(spark):
    # the applyInPandas grouped-map kernel and the native covar/var
    # aggregation must agree (same closed form, float64, 6-digit round)
    rel = {r["user_id"]: (r["n_events"], r["slope_per_sec"])
           for r in REGISTRY["user_value_trend"].fn(spark, SF_DIR).collect()}
    pnd = {r["user_id"]: (r["n_events"], r["slope_per_sec"])
           for r in REGISTRY["grouped_trend_pandas"].fn(spark, SF_DIR).collect()}
    assert set(rel) == set(pnd)
    for uid, (n, s) in rel.items():
        pn, ps = pnd[uid]
        assert pn == n
        assert ps == s or abs(ps - s) <= 1e-5


def test_correlated_subquery_is_decorrelated(spark):
    # Catalyst must rewrite the per-part scalar subquery into an
    # aggregate+join, never a per-row subquery execution
    plan = _formatted_plan(spark, "small_quantity_revenue")
    # no Subquery section may survive in the formatted physical plan
    # (`or` here would be vacuous: "SubqueryExec" never appears in
    # formatted explain output, so the disjunction always held)
    assert "Subquery" not in plan
    assert "HashAggregate" in plan


def test_hll_sketch_within_rsd(spark):
    rows = REGISTRY["approx_distinct_sketch"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["within_contract"], r["event_type"]


def test_quantile_sketch_within_contract(spark):
    rows = REGISTRY["approx_quantile_sketch"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["within_contract"], r["event_type"]


def test_ordered_dense_rank_no_global_window_and_exact(spark, force_dispatch):
    """The DISTRIBUTED two-phase ordered rank (operators.indexing, the
    over-budget / 100 TB path) must (a) contain ONLY the
    __pid-partitioned window — an unpartitioned row_number is a
    single-executor sort at corpus vocab scale — and (b) reproduce
    ROW_NUMBER() OVER (ORDER BY key) exactly. Small key sets dispatch
    to the r13 driver-sort + broadcast-mapping path (no window at all;
    differentially pinned in test_dispatch), so the shape assertion
    forces the distributed path via the dispatch budget; exactness is
    checked on both."""
    from uni_mannheim_masters_thesis_spark.operators.indexing import (
        ordered_dense_rank,
    )

    df = spark.createDataFrame(
        [(f"tok{i:04d}",) for i in range(97, 0, -7)], ["token"]
    )
    force_dispatch("RANK_KEYS", local=False)
    ranked = ordered_dense_rank(df, "token", rank_col="r", n_parts=4)
    je = ranked._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition(" not in plan.replace(
        "windowspecdefinition(__pid", ""
    ), "unpartitioned window in ordered_dense_rank plan"
    got = {r["token"]: r["r"] for r in ranked.collect()}
    want = {t: i + 1 for i, t in enumerate(sorted(got))}
    assert got == want
    # local (driver-sort) path: same exact ranks, never a window
    force_dispatch("RANK_KEYS", local=True)
    local = ordered_dense_rank(df, "token", rank_col="r", n_parts=4)
    got_local = {r["token"]: r["r"] for r in local.collect()}
    assert got_local == want


def test_winnowing_is_map_only(spark):
    """The rolling-polynomial fingerprint is a map-only computation:
    one codepoint split + O(1) array reads per window, no Python, no
    per-position hash calls. r13 allows exactly ONE exchange — the
    test-scale doc_id spread of the one-file scan (the branch never
    fires once the scan yields a partition per split, so the 100 TB
    plan stays exchange-free); any keyed/aggregation exchange beyond
    it is still a regression."""
    plan = _formatted_plan(spark, "winnowing_fingerprint")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 1, plan
    if n_exchange:
        assert "hashpartitioning(doc_id" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "md5" not in plan  # the r2 per-substring md5 regression


def test_packing_prefix_sum_is_two_phase(spark):
    """document_packing must not sort the full fact table in one
    partition: the per-row cumsum window is partitioned by the id
    bucket; only the <=32-row bucket-offset window may be global."""
    plan = _formatted_plan(spark, "document_packing")
    assert "windowspecdefinition(__b" in plan


def test_contamination_join_is_not_cartesian(spark):
    plan = _formatted_plan(spark, "benchmark_contamination")
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    # both shingle sides aggregate distinct with map-side partials
    assert "HashAggregate" in plan


def test_repetition_quality_partial_aggregation(spark):
    plan = _formatted_plan(spark, "repetition_quality")
    assert "partial_" in plan


def test_cross_source_containment_shuffles_fingerprints_not_text(spark):
    """The join/agg keys must be the md5 fingerprint — the full text
    column may appear only below the first projection."""
    plan = _formatted_plan(spark, "cross_source_containment")
    assert "md5" in plan
    assert "CartesianProduct" not in plan


def test_pii_redaction_is_map_only(spark):
    """PII detect+redact must compile to a shuffle-free scan→project
    plan (SCALING §2): regex work stays fused JVM expressions."""
    plan = _formatted_plan(spark, "pii_redaction")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_document_chunking_is_map_only(spark):
    """Chunk fan-out (sequence+explode) must stay partition-local —
    no Exchange anywhere in the plan (SCALING §2)."""
    plan = _formatted_plan(spark, "document_chunking")
    assert "Exchange" not in plan
    assert "Generate" in plan and "explode" in plan


def test_partitioned_write_prunes_partitions(spark):
    """The partitioned-corpus read must push the source predicate into
    PartitionFilters — planning-time directory pruning, the petabyte
    layout primitive — and carry no source filter as a post-scan
    condition on data columns."""
    plan = _formatted_plan(spark, "partitioned_write_pruning")
    assert "PartitionFilters" in plan
    assert "source" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_paragraph_dedup_no_window_partial_agg(spark):
    """Paragraph dedup must have NO window operator (the
    first-occurrence rule is a groupBy min + equi-join, not a global
    window) and its fingerprint aggregation must partial-aggregate
    map-side."""
    plan = _formatted_plan(spark, "paragraph_dedup")
    assert "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "BatchEvalPython" not in plan


def test_cms_counter_table_is_bounded_and_partial(spark):
    """The CMS counter aggregation must partial-aggregate (counter
    sums combine map-side) and produce at most depth*width rows."""
    from uni_mannheim_masters_thesis_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_counter_table,
    )
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    events = load_table(spark, SF_DIR, "events")
    counters = cms_counter_table(events, "user_id")
    plan = counters._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "HashAggregate" in plan
    assert counters.count() <= CMS_DEPTH * CMS_WIDTH


def test_semantic_dedup_srp_contracts(spark):
    """SRP semantic dedup: candidate pairs come from a bucket EQUI-join
    (never a cartesian product), buckets stay within the 2^planes id
    space, the min-id vector of every bucket is always kept, and the
    plan-time-folded ±1 weights reproduce their md5 derivation."""
    import hashlib

    from uni_mannheim_masters_thesis_spark.plans.registry import (
        _SRP_PLANES,
        _srp_weights,
    )

    plan = _formatted_plan(spark, "semantic_dedup_srp")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan

    w = _srp_weights()
    for p in (0, _SRP_PLANES - 1):
        for i in (0, 7, 63):
            parity = int(hashlib.md5(f"srp_{p}_{i}".encode()).hexdigest()[0], 16) % 2
            assert w[p][i] == (1 if parity == 0 else -1)

    out = REGISTRY["semantic_dedup_srp"].fn(spark, SF_DIR)
    rows = out.collect()
    assert rows and all(0 <= r["bucket"] < (1 << _SRP_PLANES) for r in rows)
    assert all(r["keep"] in (0, 1) for r in rows)
    first_per_bucket = {}
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        first_per_bucket.setdefault(r["bucket"], r)
    assert all(r["keep"] == 1 for r in first_per_bucket.values())


def test_training_order_shuffle_is_permutation(spark):
    """The deterministic shuffle manifest must be a bijection onto
    1..n with round-robin shards balanced within one document, and a
    re-run must reproduce the identical order (no rand() anywhere)."""
    out = REGISTRY["training_order_shuffle"].fn(spark, SF_DIR)
    rows = out.collect()
    n = len(rows)
    assert sorted(r["epoch_pos"] for r in rows) == list(range(1, n + 1))
    from collections import Counter

    shard_sizes = Counter(r["shard"] for r in rows).values()
    assert max(shard_sizes) - min(shard_sizes) <= 1
    rerun = {
        r["doc_id"]: r["epoch_pos"]
        for r in REGISTRY["training_order_shuffle"].fn(spark, SF_DIR).collect()
    }
    assert rerun == {r["doc_id"]: r["epoch_pos"] for r in rows}


def test_funnel_single_shuffle(spark):
    """The staged funnel must compute all three conditional-min stage
    windows AND the final per-user aggregate on ONE user_id exchange —
    no per-stage self-joins, no extra shuffles."""
    plan = _formatted_plan(spark, "funnel_conversion")
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, f"expected 1 shuffle, plan has {len(exchanges)}"
    assert "Join" not in plan


def test_session_attribution_single_user_exchange(spark):
    """Attribution's lag window, running-sum session ids, and the
    per-(user, session) aggregate must all ride ONE user_id exchange;
    the only other shuffle is the final 5-row entry-channel rollup.
    No joins anywhere (SCALING §4 / the funnel contract)."""
    plan = _formatted_plan(spark, "session_attribution")
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 2, f"expected 2 shuffles, plan has {len(exchanges)}"
    assert "Join" not in plan
    # both window specs key on user_id (no per-session re-window)
    assert plan.count("windowspecdefinition(user_id") >= 2


def test_rolling_features_single_exchange_bounded_frame(spark):
    """The rolling feature frame is one user_id exchange + one Window
    with a bounded ROWS frame (-4, current) — O(1) state per row."""
    plan = _formatted_plan(spark, "rolling_user_features")
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, f"expected 1 shuffle, plan has {len(exchanges)}"
    assert "Join" not in plan
    assert "specifiedwindowframe(RowFrame, -4, currentrow" in plan


def test_decile_bucketing_no_global_window(spark):
    """The exact-NTILE plan must rank inside range partitions (window
    keyed on __pid) — never a single-partition global ORDER BY."""
    plan = _formatted_plan(spark, "decile_bucketing")
    assert "windowspecdefinition(__pid" in plan
    assert "SinglePartition" not in plan


def test_column_profile_single_scan_expand(spark):
    """r14: the profile is a UNION of per-column single-distinct
    aggregates — NO Expand-based multi-distinct anywhere (the old
    one-pass shape duplicated every lineitem row 5×), one pruned scan
    per profiled column (same total bytes: each column is still read
    exactly once), partial aggregation per branch. The original
    invariant (bounded scans of one table, partial aggregation, exact
    distinct counts) is preserved in the new shape."""
    from uni_mannheim_masters_thesis_spark.plans.q_curation import (
        _PROFILE_COLS,
    )

    plan = _formatted_plan(spark, "column_profile")
    assert "Expand" not in plan
    # one pruned scan per profiled column, not more (each scan's detail
    # block carries exactly one ReadSchema line)
    assert plan.count("ReadSchema: struct<") == len(_PROFILE_COLS)
    # every branch's scan reads ONLY its own column
    for c in _PROFILE_COLS:
        assert f"ReadSchema: struct<{c}:" in plan, c
    # partial aggregation is still in place (two-phase per branch)
    assert plan.count("HashAggregate") >= 2 * len(_PROFILE_COLS)


def test_pagerank_join_shape_splits_hub_skew_under_aqe(spark):
    """The graph ops (neardup_pagerank / neardup_triangles) join a
    rank/pair relation against an edge list keyed by src — at 100× a
    hub node makes that key hot. This pins the declared mitigation:
    AQE's skew-join splits the hot partition for exactly this join
    shape. Synthetic star graph (one hub touching every node), skew
    thresholds scaled down to test size, broadcast disabled so the
    join is the SMJ it would be at scale."""
    n = 200_000
    others = spark.range(1, n).select(F.col("id").cast("long").alias("peer"))
    edges = others.select(
        F.lit(0).cast("long").alias("src"), F.col("peer").alias("dst")
    ).unionAll(
        others.select(F.col("peer").alias("src"), F.lit(0).cast("long").alias("dst"))
    )
    ranks = spark.range(0, n).select(F.col("id").alias("node")).withColumn(
        "rank_u", F.lit(1_000_000).cast("long")
    )
    with _confs(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }):
        # the per-iteration message-passing join of q_neardup_pagerank
        msgs = ranks.join(edges, ranks.node == edges.src).select(
            F.col("dst").alias("node"), F.col("rank_u").alias("c")
        )
        out = msgs.groupBy("node").agg(F.sum("c").alias("s"))
        rows = {r["node"]: r["s"] for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE recognized and split the hot src partition
    assert "skew=true" in plan, plan[:2000]
    assert "AQEShuffleRead skewed" in plan
    # and the split did not change the aggregate: the hub receives one
    # message from every peer, every peer exactly one from the hub
    assert rows[0] == (n - 1) * 1_000_000
    assert all(rows[i] == 1_000_000 for i in (1, n // 2, n - 1))


def test_make_wiki_dictionary_joins_broadcast(spark):
    """The make_wiki composition's two dictionary-sized joins (tf ⋈
    dictionary, and the id-window input) must broadcast — the corpus
    never sort-merges against the bounded vocabulary — and the token
    aggregates keep map-side partials."""
    plan = _formatted_plan(spark, "make_wiki_pipeline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "partial_count" in plan


def test_gopher_admission_map_only_rollup(spark):
    """The composite admission filter is a codegen'd scalar map over
    the documents scan plus one tiny per-source rollup: exactly one
    hash exchange, map-side partials, no UDF evaluation node."""
    plan = _formatted_plan(spark, "gopher_admission")
    # 0 at single-partition test scale (no exchange needed), never >1
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_prunes_selective_fact_join(spark):
    """100 TB posture: on a selective fact-fact join (filtered orders ⋈
    lineitem, too big to broadcast) Catalyst must inject a runtime
    bloom filter — bloom_filter_agg built on the filtered side,
    might_contain applied before the big side's shuffle — so the
    exchange carries only candidate rows. Size thresholds scaled down
    to test scale; result must equal the unfiltered join's."""
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table
    from conftest import SF_DIR

    with _confs(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }):
        orders = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        sel = orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        agg = j.groupBy().agg(F.sum("l_quantity").alias("q"))
        je = agg._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = je.explainString(mode)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        pruned = agg.first()["q"]
    # correctness: bloom pruning is a pre-filter, never drops matches
    baseline = (
        li.join(sel, li.l_orderkey == sel.o_orderkey)
        .groupBy().agg(F.sum("l_quantity").alias("q")).first()["q"]
    )
    assert pruned == baseline


def test_sparse_cosine_postings_join_not_cartesian(spark):
    """The pairwise-similarity self-join must meet on the TERM key (the
    Elsayed et al. postings pattern) — never a cartesian pair
    enumeration — with the doc probe cap pushed into the parquet scan
    and the df-prune/norm lookups as broadcasts."""
    plan = _formatted_plan(spark, "sparse_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    assert "BroadcastHashJoin" in plan


def test_duplicate_span_two_exchanges_no_text_shuffle(spark):
    """Span dedup shuffles (hash, doc_id, pos) triples exactly twice —
    once on the window hash, once on doc_id for the interval merge —
    never the document text, and window generation stays JVM-side."""
    import re

    plan = _formatted_plan(spark, "duplicate_span_coverage")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 2, f"expected 2 shuffles, plan has {len(exchanges)}"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the text column is consumed by the map-side tokenize/hash project
    # and must not appear in any exchange's argument schema
    for m in re.finditer(r"^\(\d+\) Exchange\nArguments: (.*)$", plan, flags=re.M):
        assert "text#" not in m.group(1)


def test_leakage_split_joins_on_ids_never_text(spark):
    """The cross-split audit joins (vec_id, split) pairs against the
    near-dup edge list — no cartesian, no embedding arrays above the
    pair relation, probe cap pushed to the scan."""
    plan = _formatted_plan(spark, "leakage_safe_split")
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,300)]" in plan


def test_cdc_merge_join_rides_the_window_partitioning(spark):
    """The MERGE full-outer join must reuse the user_id hash
    partitioning the two latest-per-key windows already established —
    exactly 4 exchanges total (one window shuffle per half + the two
    1-row bounds aggregates), none of them between a window and the
    join."""
    import re

    plan = _formatted_plan(spark, "cdc_merge_upsert")
    assert "SortMergeJoin FullOuter" in plan
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 4, f"expected 4 shuffles, got {len(exchanges)}"
    # both window specs key on user_id
    assert plan.count("windowspecdefinition(user_id") >= 2


def test_scd2_intervals_single_user_exchange(spark):
    """The whole SCD-2 history build (lag change-flag, running-sum run
    ids, per-run aggregate, lead valid_to) must ride ONE user_id
    exchange — no joins, no re-shuffle between the windows and the
    aggregate."""
    import re

    plan = _formatted_plan(spark, "scd2_state_intervals")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}"
    assert "Join" not in plan
    assert plan.count("windowspecdefinition(user_id") >= 3


def test_ewma_single_user_exchange(spark):
    """Rank window, count window, and the final aggregate all ride ONE
    user_id shuffle — the closed form needs no sequential fold."""
    import re

    plan = _formatted_plan(spark, "ewma_user_value")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}"
    assert "Join" not in plan


def test_rank_bounded_no_window_and_exact(spark):
    """rank_bounded (operators.indexing) ranks a bounded top-k relation
    with NO window operator at all — the r7 hybrid-RRF regression was a
    corpus-wide unpartitioned row_number; the bounded ranker must not
    reintroduce even a warning-level global window — and must reproduce
    ROW_NUMBER() over the mixed-direction order exactly."""
    from uni_mannheim_masters_thesis_spark.operators.indexing import (
        rank_bounded,
    )

    rows = [(1, 0.9), (2, 0.9), (3, 0.95), (4, 0.1), (5, 0.5)]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    ranked = rank_bounded(
        df, [("score", "desc"), ("doc_id", "asc")], "r"
    )
    je = ranked._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = je.explainString(mode)
    assert "windowspecdefinition(" not in plan
    assert "Window" not in plan
    got = {r["doc_id"]: r["r"] for r in ranked.collect()}
    want_order = sorted(rows, key=lambda t: (-t[1], t[0]))
    want = {doc: i + 1 for i, (doc, _) in enumerate(want_order)}
    assert got == want


def test_no_unpartitioned_window_constructors_in_package():
    """AST sweep: no source file in the package may build a window spec
    as ``Window.orderBy(...)`` (an unpartitioned spec = single-executor
    global sort + `WindowExec: No Partition Defined` log noise). The
    sanctioned shapes are Window.partitionBy(...).orderBy(...),
    ordered_dense_rank (two-phase, __pid-partitioned), and rank_bounded
    (windowless). Docstrings/comments mentioning the anti-pattern are
    naturally excluded because this walks the AST, not the text."""
    import ast
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "uni_mannheim_masters_thesis_spark",
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            tree = ast.parse(open(path).read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "orderBy"
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "Window"
                ):
                    offenders.append(f"{path}:{node.lineno}")
    assert not offenders, f"unpartitioned Window.orderBy at: {offenders}"


def test_skewed_join_salted_plan_spreads_the_key(spark):
    """The registered skew-safe join must really salt: the compiled
    plan joins on (user_id, __salt) with the dim exploded, so a hot
    user_id is spread over n_salts reducer sub-keys instead of one."""
    df = REGISTRY["skewed_join_salted"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan          # dim side replicated
    assert "__salt" in plan                    # join key carries the salt


def test_bucketed_colocated_join_plans_no_join_exchange(spark):
    """Both sides are bucketBy tables on the join keys, so the
    sort-merge join must consume the on-disk partitioning: bucketed
    scans, zero Exchange on either join key (the only exchange in the
    whole plan is the downstream segment groupBy)."""
    df = REGISTRY["bucketed_colocated_join"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount" in plan          # bucketed file scans
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


def test_matryoshka_both_rankings_share_one_exchange(spark):
    """Full-dim and truncated rankings are two window sorts over the
    SAME probe partitioning — one hashpartitioning exchange, plus the
    final per-probe aggregation."""
    df = REGISTRY["matryoshka_truncation_overlap"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(probe_id") <= 2
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_hard_negative_mining_is_one_aggregation_pass(spark):
    """Positive and hard-negative selection fold in ONE aggregation
    over the pair frame — no window, and no ranked-frame self-join
    (which would execute the probe x corpus frame twice)."""
    df = REGISTRY["hard_negative_mining"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan  # no self-join of ranked arms
    # exactly one pair frame: one nested-loop probe x corpus join
    assert plan.count("BroadcastNestedLoopJoin") == 1
