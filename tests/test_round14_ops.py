"""Round-14 optimization tests: guard fixes from the r13 ADVICE
(dense-rank duplicate keys, prefix-sum value integrality, above-budget
probe-snapshot release) and the round's dispatch/optimization changes.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_dense_rank_duplicate_keys_fall_back_to_distributed(
    spark, force_dispatch
):
    """r13 ADVICE (medium): the local broadcast-mapping join fans out
    duplicate keys (row count would change — every dup row gets every
    tied rank). Duplicates must fall back to the distributed path,
    which preserves cardinality with merely undefined tie order."""
    from uni_mannheim_masters_thesis_spark.operators import indexing as IX

    force_dispatch("RANK_KEYS", local=True)
    dup = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5)],
        "token string, payload int",
    )
    rows = IX.ordered_dense_rank(dup, "token", rank_col="r").collect()
    # cardinality preserved (the local path would emit 5 + 2*2 - 2 = 7
    # fan-out rows here: each dup row joined to both tied ranks)
    assert len(rows) == 5
    # ranks are a permutation of 1..5 (row_number semantics), and the
    # key ORDER is respected across distinct keys
    assert sorted(r["r"] for r in rows) == [1, 2, 3, 4, 5]
    by_tok = {}
    for r in rows:
        by_tok.setdefault(r["token"], []).append(r["r"])
    assert max(by_tok["a"]) < min(by_tok["b"]) < max(by_tok["b"]) < by_tok["c"][0]


def test_prefix_sum_non_integral_values_fall_back(spark, force_dispatch):
    """r13 ADVICE (low): the local prefix-sum fold truncated each value
    with int(v) BEFORE summing (0.5 + 0.5 -> 0) while the distributed
    path sums natively and casts the running total (-> 1). Non-integral
    values must fall back to the distributed path so both paths agree;
    NaN values must not crash the dispatch."""
    from uni_mannheim_masters_thesis_spark.operators import indexing as IX

    frac = spark.createDataFrame(
        [(float(k), 0.5) for k in range(10)], "k double, v double"
    )

    # n_parts=1 pins the distributed reference: with fractional values
    # the two-phase shape's per-partition long-cast totals make the
    # result boundary-dependent, so a single range partition is the
    # only deterministic distributed baseline to compare against
    force_dispatch("RANK_KEYS", local=True)
    loc = sorted(
        map(tuple, IX.ordered_prefix_sum(frac, "k", ["v"], n_parts=1).collect())
    )
    force_dispatch("RANK_KEYS", local=False)
    dist = sorted(
        map(tuple, IX.ordered_prefix_sum(frac, "k", ["v"], n_parts=1).collect())
    )
    assert loc == dist
    # the running float sum 0.5, 1.0, 1.5 ... cast to long: prefix of
    # k=2 is cast(1.0) = 1 — the truncating local fold would say 0
    as_map = {r[0]: r[-1] for r in loc}
    assert as_map[2.0] == 1

    # NaN value: the integrality probe must fall back at DISPATCH time
    # (the old int(v) fold raised ValueError mid-dispatch); the
    # distributed path it falls back to then rejects the NaN itself at
    # execution (ANSI cast of a NaN running sum to long) — consistent
    # with what any out-of-contract caller already saw above budget
    force_dispatch("RANK_KEYS", local=True)
    nan = spark.createDataFrame(
        [(1.0, 1.0), (2.0, float("nan")), (3.0, 2.0)], "k double, v double"
    )
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        # the distributed shape collects its per-partition totals
        # eagerly, so the ANSI rejection surfaces here — NOT the old
        # local-fold ValueError from int(nan)
        IX.ordered_prefix_sum(nan, "k", ["v"], n_parts=1).collect()


def test_rank_above_budget_releases_probe_snapshot(
    spark, monkeypatch, force_dispatch
):
    """r13 ADVICE (low): the above-budget path held TWO localCheckpoint
    copies (size-probe snapshot + range-partitioned checkpoint). After
    the fix, exactly one persists once the call returns, and the
    results still match the forced-distributed path."""
    from uni_mannheim_masters_thesis_spark.operators import dispatch
    from uni_mannheim_masters_thesis_spark.operators import indexing as IX

    df = spark.createDataFrame(
        [(f"t{i:03d}",) for i in range(50)], "token string"
    )

    # a budget the probe runs under and the 50 keys exceed
    monkeypatch.setattr(dispatch, "RANK_KEYS", 5)
    before = _persistent_rdd_count(spark)
    ranked = sorted(
        map(tuple, IX.ordered_dense_rank(df, "token", n_parts=4).collect())
    )
    after = _persistent_rdd_count(spark)
    assert after - before <= 1, "probe snapshot blocks were not released"

    force_dispatch("RANK_KEYS", local=False)
    dist = sorted(
        map(tuple, IX.ordered_dense_rank(df, "token", n_parts=4).collect())
    )
    assert ranked == dist and len(ranked) == 50

    # same release discipline on the prefix-sum twin
    vals = spark.createDataFrame(
        [(float(i), i % 3) for i in range(50)], "k double, v int"
    )
    monkeypatch.setattr(dispatch, "RANK_KEYS", 5)
    before = _persistent_rdd_count(spark)
    ps = sorted(
        map(tuple, IX.ordered_prefix_sum(vals, "k", ["v"], n_parts=4).collect())
    )
    after = _persistent_rdd_count(spark)
    assert after - before <= 1
    force_dispatch("RANK_KEYS", local=False)
    assert ps == sorted(
        map(tuple, IX.ordered_prefix_sum(vals, "k", ["v"], n_parts=4).collect())
    )


def test_lda_k_sweep_pooled_fits_match_serial(spark):
    """r14: q_lda_k_sweep overlaps its three (fit, logPerplexity) pairs
    in a thread pool. Each fit reads the SAME settled cached corpus, so
    concurrency must not change any trajectory — pinned by comparing
    the pooled rows against an explicit serial loop on the same
    corpus."""
    from concurrent.futures import ThreadPoolExecutor

    from conftest import SF_DIR
    from uni_mannheim_masters_thesis_spark.functions.text import (
        tokens_pipeline,
    )
    from uni_mannheim_masters_thesis_spark.ml.topics import fit_lda, vectorize
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 1000)
    toks = docs.select(
        "doc_id", tokens_pipeline(F.col("text")).alias("tokens")
    ).filter(F.size("tokens") > 0)
    _, corpus = vectorize(toks, vocab_size=1 << 16)
    corpus = corpus.cache()
    corpus.count()
    try:
        def one(k):
            m = fit_lda(corpus, k=k, max_iter=3)
            return (k, float(m.logPerplexity(corpus)))

        serial = [one(k) for k in (5, 10)]
        with ThreadPoolExecutor(max_workers=2) as ex:
            pooled = list(ex.map(one, (5, 10)))
    finally:
        corpus.unpersist()
    assert serial == pooled  # bit-identical perplexities


def test_sweep_prep_release_uncaches_every_frame(spark):
    """``sweep_prep_release`` (what ``kernel_svm_sweep(prepared=None)``
    runs on its own bundle) unpersists every cached frame of a
    :func:`sweep_prep` bundle, the feature frames and the array
    frames alike."""
    from pyspark.ml.functions import array_to_vector

    from uni_mannheim_masters_thesis_spark.ml.kernel import (
        sweep_prep,
        sweep_prep_release,
    )

    # a tiny synthetic bundle (the real sf bundle is a multi-second fit
    # pipeline; release only needs the frames)
    rng = np.random.RandomState(0)
    X = rng.normal(size=(60, 3))
    y = (X[:, 0] > 0).astype(float)
    mk = lambda A, t: spark.createDataFrame(
        [(list(map(float, r)), float(v)) for r, v in zip(A, t)],
        "xarr array<double>, label double",
    ).select(array_to_vector("xarr").alias("features"), "label")
    train, test = mk(X[:40], y[:40]), mk(X[40:], y[40:])
    prep = sweep_prep(train, test, gammas=(1.0,), degrees=(1, 2), n_rff=8)
    frames = [f for pair in prep["frames"].values() for f in pair]
    frames += list(prep["arr_frames"])
    assert all(f.storageLevel.useMemory for f in frames)

    sweep_prep_release(prep)

    for f in frames:
        assert f.storageLevel.useMemory is False, (
            "a sweep-prep frame stayed cached after release"
        )
