"""Size dispatch (``operators.dispatch``): every driver-local fast path
returns exactly the rows of its distributed path, and a row-budget size
decision costs at most one Spark job."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml.functions import array_to_vector
from pyspark.sql import functions as F

from conftest import SF_DIR, jobs_launched
from uni_mannheim_masters_thesis_spark.operators import dispatch


def _vectors(spark, X, y):
    return spark.createDataFrame(
        [(list(map(float, r)), float(t)) for r, t in zip(X, y)],
        "xarr array<double>, label double",
    ).select(array_to_vector("xarr").alias("features"), "label")


def _rank(spark):
    """Every key type the engine ranks: struct-of-ints (rfm_segments),
    strings incl. non-ASCII (UTF-8 byte order == code-point order),
    struct-of-doubles with negatives; a NULL key makes the local path
    decline and fall back."""
    from uni_mannheim_masters_thesis_spark.operators.indexing import (
        ordered_dense_rank,
    )

    rng = np.random.RandomState(5)
    ints = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(rng.permutation(500))],
        "v int, id long",
    ).withColumn("__k", F.struct("v", "id"))
    toks = [f"tok_{i:03d}" for i in range(80)] + ["zz", "ärm", "émigré", "中文"]
    strs = spark.createDataFrame([(t,) for t in toks], "token string")
    dbl = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(rng.normal(size=300))],
        "score double, id long",
    ).withColumn("__k", F.struct((-F.col("score")).alias("ns"), "id"))
    out = [
        sorted(map(tuple, ordered_dense_rank(df, col).collect()))
        for df, col in ((ints, "__k"), (strs, "token"), (dbl, "__k"))
    ]
    assert [len(rows) for rows in out] == [500, len(toks), 300]

    withnull = spark.createDataFrame([("a",), (None,), ("b",)], "token string")
    ranks = {
        r["token"]: r["rank"]
        for r in ordered_dense_rank(withnull, "token").collect()
    }
    assert ranks["a"] < ranks["b"] and len(ranks) == 3
    return out, ranks


def _prefix_sum(spark):
    """Exclusive prefix sums as longs; a duplicate key raises on either
    path."""
    from uni_mannheim_masters_thesis_spark.operators.indexing import (
        ordered_prefix_sum,
    )

    rng = np.random.RandomState(17)
    df = spark.createDataFrame(
        [
            (float(s), int(p), int(n))
            for s, p, n in zip(
                rng.permutation(400) / 8.0,
                rng.randint(0, 5, 400),
                rng.randint(0, 7, 400),
            )
        ],
        "s double, pos int, neg int",
    )
    rows = sorted(
        map(tuple, ordered_prefix_sum(df, "s", ["pos", "neg"]).collect())
    )
    assert len(rows) == 400
    dup = spark.createDataFrame(
        [(1.0, 1, 1), (1.0, 2, 2)], "s double, pos int, neg int"
    )
    with pytest.raises(ValueError, match="duplicate"):
        ordered_prefix_sum(dup, "s", ["pos", "neg"])
    return rows


def _connected_components(spark):
    """Chains, a star, a cycle, isolated pairs and random extra edges:
    cluster = smallest reachable id, one row per node seen in an edge."""
    from uni_mannheim_masters_thesis_spark.operators.dedup import (
        connected_components,
    )

    rng = np.random.RandomState(13)
    edges = (
        [(i, i + 1) for i in range(0, 12)]
        + [(100, j) for j in range(101, 109)]
        + [(200, 201), (201, 202), (202, 200)]
        + [(300, 301), (400, 401)]
        + [
            (int(a), int(b))
            for a, b in rng.randint(500, 540, size=(25, 2))
            if a != b
        ]
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = sorted(
        (r["node"], r["cluster"]) for r in connected_components(df).collect()
    )
    assert len(rows) == len({n for n, _ in rows})
    return rows


def _pagerank(spark):
    """The integer PageRank query: identical longs AND schema (the
    driver hashes schemas too)."""
    from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY

    df = REGISTRY["neardup_pagerank"].fn(spark, SF_DIR)
    rows = sorted(map(tuple, df.collect()))
    assert rows
    return [(f.name, f.dataType) for f in df.schema], rows


def _huber(spark):
    """ModifiedHuberGD on one partition: bit-identical weights (the
    local loop replays Spark Sum's null-start left fold op-for-op)."""
    from uni_mannheim_masters_thesis_spark.ml.classify import ModifiedHuberGD

    rng = np.random.RandomState(7)
    X = rng.normal(size=(60, 5))
    y = (X[:, 1] + 0.3 * X[:, 2] > 0).astype(float)
    model = ModifiedHuberGD(maxIter=7, step=0.5, regParam=0.01).fit(
        _vectors(spark, X, y).coalesce(1)
    )
    return model.bias, list(model.weights)


def _mlp(spark):
    """Three configs: config-parallel (local) vs the lockstep
    ``part_grads`` fold over all three models at once."""
    from uni_mannheim_masters_thesis_spark.ml.mlp import (
        MLPConfig,
        _flatten,
        mlp_blocks,
        train_mlp_batch,
    )

    rng = np.random.RandomState(9)
    X = rng.normal(size=(120, 6))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    blocks, n, dim = mlp_blocks(_vectors(spark, X, y))
    cfgs = [
        MLPConfig((50,), "relu", "adam", "constant", 0.001, seed=0),
        MLPConfig((50, 50, 50), "tanh", "sgd", "adaptive", 0.01, seed=1),
        MLPConfig((50, 100, 50), "logistic", "lbfgs", "constant", 0.1,
                  seed=2),
    ]
    try:
        models = train_mlp_batch(blocks, n, dim, cfgs, epochs=6)
    finally:
        blocks.unpersist()
    # np.array_equal per model, as plain lists so the paths compare
    return [_flatten(m).tolist() for m in models]


def _knn(spark):
    """numpy broadcast vs blocked kernel: same neighbors and ranks;
    distances agree to 9 digits (the two BLAS blockings differ by an
    ulp)."""
    from uni_mannheim_masters_thesis_spark.ml.resample import knn_within
    from uni_mannheim_masters_thesis_spark.sources.testdata import load_table

    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select("vec_id", "embedding")
    )
    return sorted(
        (r["id"], r["nn_rank"], r["nn_id"], round(r["dist"], 9))
        for r in knn_within(emb, k=3).collect()
    )


#: dispatch site -> (the budget that decides it, a run over fixed data)
CASES = {
    "rank": ("RANK_KEYS", _rank),
    "prefix_sum": ("RANK_KEYS", _prefix_sum),
    "connected_components": ("GRAPH_EDGES", _connected_components),
    "pagerank": ("GRAPH_EDGES", _pagerank),
    "huber": ("DENSE_BYTES", _huber),
    "mlp": ("DENSE_BYTES", _mlp),
    "knn": ("DENSE_BYTES", _knn),
}


@pytest.fixture()
def decisions(spark, monkeypatch):
    """Every size decision taken through ``operators.dispatch``, as
    (kind, went_local, jobs the decision launched)."""
    log = []
    real_collect, real_fits = dispatch.bounded_collect, dispatch.fits_driver

    def bounded_collect(df, max_rows):
        rows, jobs = jobs_launched(spark, lambda: real_collect(df, max_rows))
        log.append(("rows", rows is not None, jobs))
        return rows

    def fits_driver(n_bytes):
        ok = real_fits(n_bytes)
        log.append(("bytes", ok, 0))
        return ok

    monkeypatch.setattr(dispatch, "bounded_collect", bounded_collect)
    monkeypatch.setattr(dispatch, "fits_driver", fits_driver)
    return log


@pytest.mark.parametrize("case", list(CASES))
def test_local_matches_distributed(spark, force_dispatch, decisions, case):
    budget, run = CASES[case]
    force_dispatch(budget, local=True)
    local = run(spark)
    assert any(went_local for _, went_local, _ in decisions), decisions
    n_local = len(decisions)
    force_dispatch(budget, local=False)
    distributed = run(spark)
    assert not any(went_local for _, went_local, _ in decisions[n_local:])
    assert local == distributed
    # a row-budget size decision is one bounded collect: at most one job
    assert all(jobs <= 1 for kind, _, jobs in decisions if kind == "rows")


def test_bounded_collect_is_one_job(spark):
    """One job at any budget, over a 16-partition checkpoint: a plain
    limit(n).collect() would scan it in waves of 1, 4, 16 partitions
    (a job each) whenever the frame holds fewer rows than the limit."""
    df = spark.range(0, 500, 1, 16).localCheckpoint(eager=True)
    under, jobs = jobs_launched(spark, lambda: dispatch.bounded_collect(df, 500))
    assert sorted(r.id for r in under) == list(range(500)) and jobs == 1
    over, jobs = jobs_launched(spark, lambda: dispatch.bounded_collect(df, 499))
    assert over is None and jobs == 1
    off, jobs = jobs_launched(spark, lambda: dispatch.bounded_collect(df, 0))
    assert off is None and jobs == 0


def test_lexicon_inline_matches_join(spark, monkeypatch, decisions):
    """``filter_tokens_with_lexicon(strategy='auto')``: the inline and
    join strategies keep the same tokens in both modes (order,
    multiplicity and NULL handling included), and the size decision
    plus the word read is one bounded collect: at most one job."""
    from uni_mannheim_masters_thesis_spark.functions import lexicon as L

    lex = spark.createDataFrame(
        [("the",), ("a",), ("the",), (None,), ("of",)], "word string"
    ).localCheckpoint(eager=True)
    df = spark.createDataFrame(
        [
            (0, ["the", "cat", "of", "the", "hat", "cat"]),
            (1, ["a", None, "b", "a"]),
            (2, []),
            (3, None),
        ],
        "doc_id int, tokens array<string>",
    )

    def run(budget):
        monkeypatch.setattr(L, "INLINE_LEXICON_MAX", budget)
        out = []
        for mode in ("drop", "keep"):
            res, jobs = jobs_launched(
                spark,
                lambda: L.filter_tokens_with_lexicon(
                    df, "tokens", lex, ["doc_id"], mode=mode
                ),
            )
            assert jobs <= 1, (budget, mode, jobs)
            out.append(sorted(map(tuple, res.collect())))
        return out

    inline = run(5)  # the boundary: 5 raw rows fit a budget of 5
    assert [went_local for _, went_local, _ in decisions] == [True, True]
    joined = run(4)
    assert [went_local for _, went_local, _ in decisions[2:]] == [False, False]
    assert inline == joined
    assert inline[0][0] == (0, ["cat", "hat", "cat"])
