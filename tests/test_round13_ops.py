"""Round-13 operator tests: the M9 full kernel sweep (exact poly map,
per-γ RFF bounds, γ→regParam fold), the M22 MLP surrogate search
(backprop gradient check, lockstep batch trainer, grid fidelity), and
the TPE warmup batch-scoring equivalence (r12 verdict item 7)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR
from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY


# ---------------------------------------------------------------------------
# M9 poly map: exactness + distributed/numpy agreement + γ fold
# ---------------------------------------------------------------------------


def test_poly_map_identity_holds_numerically():
    """phi(x)·phi(y) == (x·y)^d to float rounding — the multinomial
    identity the sweep's ok_map_exact pin rides."""
    from uni_mannheim_masters_thesis_spark.ml.kernel import poly_map_exactness

    assert poly_map_exactness() < 1e-9


def test_poly_combo_count_is_stars_and_bars():
    from math import comb

    from uni_mannheim_masters_thesis_spark.ml.kernel import _poly_combos

    for dim, d in ((11, 3), (11, 6), (4, 2)):
        combos, coefs = _poly_combos(dim, d)
        assert len(combos) == comb(dim + d - 1, d)
        assert len(coefs) == len(combos)
        # sum of multinomial coefficients over all multisets = dim^d
        # (expand (1+1+...+1)^d) — pins the coefficient table globally
        assert abs(float(np.sum(coefs**2)) - float(dim) ** d) < 1e-6 * dim**d


def test_poly_features_distributed_matches_numpy(spark):
    """The mapInPandas map must equal the driver-side transform row for
    row (same combos/coefs code, so this pins the Spark plumbing)."""
    from uni_mannheim_masters_thesis_spark.ml.kernel import (
        _poly_combos,
        _poly_transform,
        poly_features,
    )

    rng = np.random.RandomState(3)
    X = rng.normal(size=(40, 5))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id int, xarr array<double>",
    )
    out = poly_features(df, in_col="xarr", out_col="p", degree=3, dim=5)
    got = {r["id"]: np.array(r["p"]) for r in out.collect()}
    combos, coefs = _poly_combos(5, 3)
    want = _poly_transform(X, combos, coefs)
    for i in range(len(X)):
        assert np.allclose(got[i], want[i], atol=1e-12)


def test_poly_gamma_fold_matches_scaled_features(spark):
    """The sweep's γ→regParam fold is an exact substitution
    (u = γ^{d/2}·w, intercept unregularized, standardization off):
    fitting γ-SCALED features with regParam must predict like fitting
    UNSCALED features with regParam/γ^d. Differential pin on real data
    (γ=10, d=2); the two OWLQN runs see differently-conditioned
    problems, so agreement is pinned at ≥95% of the test set rather
    than bit-equality."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from uni_mannheim_masters_thesis_spark.ml.kernel import poly_features
    from uni_mannheim_masters_thesis_spark.ml.shared import (
        shared_scaled_doc_split,
    )

    train, test = shared_scaled_doc_split(spark, SF_DIR)
    g, d, rp = 10.0, 2, 0.1
    arr_tr = train.select(vector_to_array("features").alias("xarr"), "label")
    arr_te = test.select(vector_to_array("features").alias("xarr"), "label")
    dim = len(arr_tr.first()["xarr"])

    def expand(a, scale):
        return (
            poly_features(a, in_col="xarr", out_col="p", degree=d,
                          dim=dim, scale=scale)
            .select(array_to_vector("p").alias("features"), "label")
        )

    # arm A: features scaled by γ^{d/2}, nominal regParam
    tr_a, te_a = expand(arr_tr, g ** (d / 2)), expand(arr_te, g ** (d / 2))
    m_a = LinearSVC(maxIter=40, regParam=rp, tol=1e-6,
                    standardization=False).fit(tr_a)
    # arm B: unscaled features, folded regParam
    tr_b, te_b = expand(arr_tr, 1.0), expand(arr_te, 1.0)
    m_b = LinearSVC(maxIter=40, regParam=rp / g**d, tol=1e-6,
                    standardization=False).fit(tr_b)
    pa = [r["prediction"] for r in m_a.transform(te_a).collect()]
    pb = [r["prediction"] for r in m_b.transform(te_b).collect()]
    agree = float(np.mean(np.array(pa) == np.array(pb)))
    assert agree >= 0.95, agree


def test_kernel_svm_sweep_grid_contract(spark):
    """33 rows in the reference's exact loop order, every hard
    invariant true, per-γ bounds populated on the rbf arm only."""
    rows = REGISTRY["kernel_svm_sweep"].fn(spark, SF_DIR).collect()
    assert len(rows) == 33
    assert [r["config_id"] for r in rows] == list(range(1, 34))
    kernels = [r["kernel"] for r in rows]
    assert kernels == ["linear"] + ["rbf"] * 4 + ["poly"] * 28
    # reference loop order: poly iterates gammas outer, degrees inner
    poly = [(r["gamma"], r["degree"]) for r in rows if r["kernel"] == "poly"]
    assert poly == [
        (g, d) for g in (0.1, 1.0, 10.0, 100.0) for d in range(7)
    ]
    for r in rows:
        for c in ("ok_grid_complete", "ok_f1_range", "ok_map_exact",
                  "ok_best_f1_floor"):
            assert r[c], (r["config_id"], c)
        if r["kernel"] == "rbf":
            assert r["mean_gram_err"] is not None
            assert r["f1_exact_kernel"] is not None
        else:
            assert r["mean_gram_err"] is None
    # degree-0 rows are γ-invariant by construction (constant kernel)
    d0 = {r["f1"] for r in rows if r["degree"] == 0}
    assert len(d0) == 1


def test_rff_exact_sweep_shares_one_slice(spark):
    """Per-γ bounds equal the single-γ comparison at every γ (same
    slice, same closed-form solver) — the sweep is the old bound
    evaluated per γ, not a different protocol."""
    from uni_mannheim_masters_thesis_spark.ml.kernel import (
        rff_exact_comparison,
        rff_exact_sweep,
    )
    from uni_mannheim_masters_thesis_spark.ml.shared import (
        shared_scaled_doc_split,
    )

    train, test = shared_scaled_doc_split(spark, SF_DIR)
    sweep = rff_exact_sweep(train, test, (0.1, 10.0))
    for g in (0.1, 10.0):
        single = rff_exact_comparison(train, test, gamma=g)
        assert sweep[g] == single


# ---------------------------------------------------------------------------
# r12 advice item 7: TPE warmup batch == serial scoring
# ---------------------------------------------------------------------------


def _synthetic_scored(spark, n=240, seed=11):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        probs = rng.dirichlet(np.ones(6)).tolist()
        rows.append((
            [float(p) for p in probs],
            bool(rng.randint(2)),
            int(rng.randint(1, 600)),
        ))
    return spark.createDataFrame(
        rows, "topic_probs array<double>, gold boolean, doc_len long"
    )


def test_warmup_batch_scoring_equals_serial(spark):
    """_rule_f1_batch on the 9 fixed warmup points must equal the
    serial per-point aggregate bit-for-bit (integer confusion counts,
    same f1 formula) — the property that makes the r13 warmup batching
    a pure job-count optimization."""
    from uni_mannheim_masters_thesis_spark.ml.search import _rule_f1_batch

    scored = _synthetic_scored(spark)
    base = scored.select(
        F.col("topic_probs").alias("__probs"),
        F.col("gold").alias("__gold"),
        F.col("doc_len").alias("__len"),
    ).cache()
    warmup = [
        (p, t, l)
        for p in (0.05, 0.1)
        for t in (1, 5)
        for l in (5, 500)
    ] + [(0.075, 3, 252)]
    batched = _rule_f1_batch(base, warmup)

    def serial_f1(mp, mt, ml):
        pred = (
            F.size(F.filter("__probs", lambda p: p >= F.lit(float(mp))))
            > F.lit(int(mt))
        )
        row = (
            base.filter(F.col("__len") >= F.lit(int(ml)))
            .select(
                F.sum((pred & F.col("__gold")).cast("long")).alias("tp"),
                F.sum((pred & ~F.col("__gold")).cast("long")).alias("fp"),
                F.sum((~pred & F.col("__gold")).cast("long")).alias("fn"),
            )
            .first()
        )
        tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
        return 2.0 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0

    serial = [serial_f1(*w) for w in warmup]
    base.unpersist()
    assert batched == serial  # exact float equality, not approx


def test_rule_point_search_trials_preserved_after_batching(spark):
    """The batched-warmup rule_point_search still reports all 15 trials
    with the corner-domination invariant intact on synthetic data."""
    from uni_mannheim_masters_thesis_spark.ml.search import rule_point_search

    rows = rule_point_search(_synthetic_scored(spark)).collect()
    assert len(rows) == 15
    assert all(r["ok_trials_complete"] for r in rows)
    assert all(r["ok_in_box"] for r in rows)
    assert all(r["ok_best_geq_corners"] for r in rows)


# ---------------------------------------------------------------------------
# M22 MLP: backprop gradient check, lockstep trainer, search contract
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "activation", ["tanh", "relu", "logistic", "identity"]
)
def test_mlp_block_grad_matches_finite_differences(activation):
    """Analytic backprop vs central finite differences for every grid
    activation — the correctness core of the distributed trainer."""
    from uni_mannheim_masters_thesis_spark.ml.mlp import (
        MLPConfig,
        _block_grad,
        _flatten,
        _init_params,
        _unflatten,
    )

    rng = np.random.RandomState(5)
    X = rng.normal(size=(12, 4))
    y = (rng.uniform(size=12) > 0.5).astype(np.float64)
    cfg = MLPConfig((7, 5), activation, "adam", "constant", 0.01, seed=3)
    params = _init_params(cfg, 4)
    shapes = [(w.shape, b.shape) for w, b in params]
    flat = _flatten(params)
    g, _ = _block_grad(X, y, params, activation)
    eps = 1e-6
    # probe 25 random coordinates (full loop over ~100 params is fine
    # too, but the sample keeps the test fast and seeds make it stable)
    for j in rng.choice(flat.size, size=25, replace=False):
        fp = flat.copy()
        fp[j] += eps
        _, lp = _block_grad(X, y, _unflatten(fp, shapes), activation)
        fm = flat.copy()
        fm[j] -= eps
        _, lm = _block_grad(X, y, _unflatten(fm, shapes), activation)
        num = (lp - lm) / (2 * eps)
        assert abs(num - g[j]) < 1e-4 * max(1.0, abs(num)), (
            activation, j, num, g[j],
        )


def test_mlp_batch_trainer_is_deterministic_and_batch_invariant(spark):
    """Training the same config alone or inside a batch yields the SAME
    parameters (lockstep batching shares passes, never state), and a
    re-run reproduces them exactly."""
    from uni_mannheim_masters_thesis_spark.ml.mlp import (
        MLPConfig,
        _flatten,
        mlp_blocks,
        train_mlp_batch,
    )

    rng = np.random.RandomState(9)
    X = rng.normal(size=(120, 6))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    df = spark.createDataFrame(
        [(list(map(float, r)), float(t)) for r, t in zip(X, y)],
        "xarr array<double>, label double",
    ).select(
        F.col("xarr"), F.col("label")
    )
    from pyspark.ml.functions import array_to_vector

    df = df.select(array_to_vector("xarr").alias("features"), "label")
    blocks, n, dim = mlp_blocks(df)
    cfgs = [
        MLPConfig((50,), "relu", "adam", "constant", 0.001, seed=0),
        MLPConfig((50, 50, 50), "tanh", "sgd", "adaptive", 0.01, seed=1),
        MLPConfig((50, 100, 50), "logistic", "lbfgs", "constant", 0.1,
                  seed=2),
    ]
    together = train_mlp_batch(blocks, n, dim, cfgs, epochs=6)
    alone = train_mlp_batch(blocks, n, dim, [cfgs[1]], epochs=6)
    rerun = train_mlp_batch(blocks, n, dim, cfgs, epochs=6)
    assert np.array_equal(_flatten(together[1]), _flatten(alone[0]))
    for a, b in zip(together, rerun):
        assert np.array_equal(_flatten(a), _flatten(b))
    blocks.unpersist()


def test_mlp_solvers_all_learn_separable_task(spark):
    """Every solver must actually descend: F1 on a linearly separable
    task clears 0.9 after a short budget for sgd, adam and lbfgs."""
    from pyspark.ml.functions import array_to_vector

    from uni_mannheim_masters_thesis_spark.ml.mlp import (
        MLPConfig,
        mlp_blocks,
        score_mlp_batch,
        train_mlp_batch,
    )

    rng = np.random.RandomState(13)
    X = rng.normal(size=(300, 5))
    y = (X[:, 0] - X[:, 2] > 0).astype(float)
    df = spark.createDataFrame(
        [(list(map(float, r)), float(t)) for r, t in zip(X, y)],
        "xarr array<double>, label double",
    ).select(array_to_vector("xarr").alias("features"), "label")
    blocks, n, dim = mlp_blocks(df)
    cfgs = [
        MLPConfig((50,), "tanh", s, "constant", 0.0001, seed=i)
        for i, s in enumerate(("sgd", "adam", "lbfgs"))
    ]
    models = train_mlp_batch(blocks, n, dim, cfgs, epochs=25)
    f1s = score_mlp_batch(blocks, models, cfgs)
    blocks.unpersist()
    for cfg, f1 in zip(cfgs, f1s):
        assert f1 >= 0.9, (cfg.solver, f1)


def test_adaptive_search_mlp_contract(spark):
    """30 EI trials + 1 random-arm summary, every trial inside the
    reference's exact grid, hard invariants green."""
    rows = REGISTRY["adaptive_search_mlp"].fn(spark, SF_DIR).collect()
    ei = [r for r in rows if r["arm"] == "forest_ei"]
    rnd = [r for r in rows if r["arm"] == "random_best"]
    assert len(ei) == 30 and len(rnd) == 1
    for r in rows:
        for c in ("ok_budget_exact", "ok_f1_range", "ok_best_geq_random",
                  "ok_in_grid"):
            assert r[c], (r["arm"], r["trial"], c)
    assert max(r["f1"] for r in ei) >= rnd[0]["f1"]
    # the winner is flagged
    assert any(r["is_best"] for r in ei)


def test_mlp_learning_rate_inert_except_sgd(spark):
    """sklearn semantics: learning_rate only applies to solver='sgd' —
    adam runs with different learning_rate labels must produce
    identical parameters."""
    from uni_mannheim_masters_thesis_spark.ml.mlp import (
        MLPConfig,
        _flatten,
        mlp_blocks,
        train_mlp_batch,
    )
    from pyspark.ml.functions import array_to_vector

    rng = np.random.RandomState(21)
    X = rng.normal(size=(80, 4))
    y = (X[:, 0] > 0).astype(float)
    df = spark.createDataFrame(
        [(list(map(float, r)), float(t)) for r, t in zip(X, y)],
        "xarr array<double>, label double",
    ).select(array_to_vector("xarr").alias("features"), "label")
    blocks, n, dim = mlp_blocks(df)
    cfgs = [
        MLPConfig((10,), "relu", "adam", lr, 0.01, seed=0)
        for lr in ("constant", "adaptive", "invscaling")
    ]
    models = train_mlp_batch(blocks, n, dim, cfgs, epochs=5)
    blocks.unpersist()
    base = _flatten(models[0])
    for m in models[1:]:
        assert np.array_equal(base, _flatten(m))


def test_kernel_sweep_identical_fit_memoization_is_sound(spark):
    """r13: identical-(degree, rp) poly configs share ONE LinearSVC fit.
    Soundness rests on fit determinism — the same estimator spec on the
    same cached frame must yield bit-identical models — pinned here
    directly, plus the sweep's grid staying complete with clamped
    configs carrying equal rows."""
    from uni_mannheim_masters_thesis_spark.ml.kernel import kernel_svm_sweep
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.functions import array_to_vector

    rng = np.random.RandomState(3)
    X = rng.normal(size=(160, 4))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    mk = lambda A, t: spark.createDataFrame(
        [(list(map(float, r)), float(v)) for r, v in zip(A, t)],
        "xarr array<double>, label double",
    ).select(array_to_vector("xarr").alias("features"), "label")
    train, test = mk(X[:120], y[:120]), mk(X[120:], y[120:])

    # 1) determinism pin: two fits of the same spec on one cached frame
    cached = train.cache()
    cached.count()
    try:
        spec = dict(maxIter=20, regParam=1e-10, tol=1e-3,
                    standardization=False)
        m1 = LinearSVC(**spec).fit(cached)
        m2 = LinearSVC(**spec).fit(cached)
        assert m1.intercept == m2.intercept
        assert list(m1.coefficients) == list(m2.coefficients)
    finally:
        cached.unpersist()

    # 2) sweep with a reg_param small enough that every poly config
    #    folds below the 1e-10 clamp → one fit per degree, fanned out;
    #    the grid must stay complete and clamped pairs row-equal
    out = kernel_svm_sweep(
        train, test, gammas=(10.0, 100.0), degrees=(0, 2, 3), n_rff=16,
        reg_param=1e-12,
    ).collect()
    rows = {(r["kernel"], r["gamma"], r["degree"]): r for r in out}
    assert len(out) == 1 + 2 + 6
    for d in (2, 3):
        a = rows[("poly", 10.0, d)]
        b = rows[("poly", 100.0, d)]
        assert a["f1"] == b["f1"]
        assert a["feat_dim"] == b["feat_dim"]
    assert all(r["ok_grid_complete"] for r in out)

    # 3) degree 0 (K ≡ 1) is the train-majority predictor in closed
    #    form: every test row gets the train majority, scored by F1
    majority = 1.0 if 2 * y[:120].sum() > 120 else 0.0
    gold = y[120:] == 1.0
    tp = float(np.sum(gold)) if majority else 0.0
    fp = float(np.sum(~gold)) if majority else 0.0
    fn = float(np.sum(gold)) - tp
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    for g in (10.0, 100.0):
        r = rows[("poly", g, 0)]
        assert r["feat_dim"] == 1
        assert r["f1"] == pytest.approx(f1, abs=1e-6)

