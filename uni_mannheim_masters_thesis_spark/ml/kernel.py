"""Kernel-method approximation (reference M9, ``runSVMClassifier``
``supervised_classifier.py:292-333``: sklearn SVC with rbf/poly kernels).

No distributed exact kernel SVM exists (the kernel matrix is O(n²));
the standard scale-out is **Random Fourier Features** (Rahimi & Recht,
"Random Features for Large-Scale Kernel Machines", NeurIPS 2007): an
explicit map z(x) = sqrt(2/D)·cos(Wx + b) with W ~ N(0, √(2γ)) and
b ~ U[0, 2π] satisfies E[z(x)ᵀz(y)] = exp(−γ‖x−y‖²), so a LINEAR SVC on
z(x) approximates the rbf-kernel SVC. W/b are seeded, generated once,
and broadcast; the feature map itself is one matrix multiply per Arrow
batch — embarrassingly parallel, no kernel matrix ever materializes.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rff_features(
    df: DataFrame,
    in_col: str = "embedding",
    out_col: str = "rff",
    n_features: int = 128,
    gamma: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Append the RFF map of an array<float/double> column.

    The (d × D) projection is drawn once on the driver from the seed and
    broadcast — identical on every executor and across retries.
    """
    import pandas as pd

    first = df.select(F.size(in_col).alias("d")).first()
    if first is None:
        raise ValueError("rff_features: input DataFrame is empty")
    d = int(first["d"])
    rng = np.random.RandomState(seed)
    W = rng.normal(scale=np.sqrt(2.0 * gamma), size=(d, n_features))
    b = rng.uniform(0.0, 2.0 * np.pi, size=n_features)
    bc = df.sparkSession.sparkContext.broadcast((W, b))
    scale = np.sqrt(2.0 / n_features)
    cols = df.columns

    def mapper(batches):
        Wv, bv = bc.value
        for pdf in batches:
            X = np.stack(pdf[in_col].to_numpy()).astype(np.float64)
            Z = scale * np.cos(X @ Wv + bv)
            out = pdf.copy()
            out[out_col] = list(Z)
            yield out

    schema = ", ".join(f"{c} {t}" for c, t in df.dtypes) + f", {out_col} array<double>"
    return df.mapInPandas(mapper, schema)


def kernel_svm_report(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    n_features: int = 128,
    gamma: float = 0.1,
    seed: int = 42,
    scale: bool = False,
    f1_floor: float | None = None,
    presplit: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """M9: rbf-SVC approximation = RFF map + LinearSVC, scored with the
    A4/A5 confusion metrics on an 80/20 split.

    With ``scale=True`` a StandardScaler (fit on train only) runs before
    the feature map — the rbf kernel is distance-based, so unscaled
    wide-range coordinates (e.g. a raw length feature) would dominate
    ‖x−y‖² and wash out every other dimension. ``f1_floor`` stamps the
    battery-style ``ok_f1_floor`` hard invariant for rows-only checks.
    ``presplit=(train, test)`` supplies an already split (and scaled)
    pair of (features vector, label) frames — e.g. the session-shared
    ``ml.shared.shared_scaled_doc_split`` — in which case ``df``,
    ``vec_col`` and ``scale`` are unused."""
    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from .classify import (
        attach_eval_invariants,
        evaluate_binary,
        scale_features,
        train_test_split,
    )

    if presplit is not None:
        train, test = presplit
    else:
        data = df.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "features"
            ),
            F.col(label_col).cast("double").alias("label"),
        )
        train, test = train_test_split(data)
        if scale:
            train, test = scale_features(train, test)
            train = train.select(
                F.col("features_scaled").alias("features"), "label"
            )
            test = test.select(
                F.col("features_scaled").alias("features"), "label"
            )

    def to_rff(d: DataFrame) -> DataFrame:
        arr = d.select(vector_to_array("features").alias("xarr"), "label")
        mapped = rff_features(arr, in_col="xarr", out_col="rff",
                              n_features=n_features, gamma=gamma, seed=seed)
        return mapped.select(
            array_to_vector(F.col("rff")).alias("features"), "label"
        )

    train = to_rff(train).cache()
    test = to_rff(test).cache()
    try:
        model = LinearSVC(maxIter=20, regParam=0.1).fit(train)
        scored = model.transform(test)
        report = evaluate_binary(scored).select(
            "tp", "fp", "tn", "fn", "precision", "recall", "accuracy", "f1"
        ).withColumn("n", F.lit(test.count()))
        report = attach_eval_invariants(report)
        if f1_floor is not None:
            report = report.withColumn(
                "ok_f1_floor", F.col("f1") >= F.lit(float(f1_floor))
            )
        # the report is a small local relation — materialize it before
        # releasing the RFF frames so repeated invocations in one
        # session (suite + driver + bench) don't accumulate pinned
        # cached frames (the q_leakage_safe_split leak class)
        return report.localCheckpoint(eager=True)
    finally:
        train.unpersist()
        test.unpersist()


def rff_exact_comparison(
    train: DataFrame,
    test: DataFrame,
    n_train_slice: int = 500,
    n_test_slice: int = 200,
    n_features: int = 128,
    gamma: float = 0.1,
    ridge: float = 1.0,
    seed: int = 42,
) -> dict:
    """Quantify the RFF approximation against the EXACT rbf kernel on
    a small slice (r11 verdict item 6) — the bound that turns the
    documented M9 deviation (reference supervised_classifier.py:292-333
    uses exact-kernel SVC; no distributed equivalent exists) into a
    measured number instead of an assertion.

    Protocol: a deterministic slice (sorted by (label, features) so
    repartitioning can't change it) small enough that the Gram matrix
    fits on the driver — the ONE sanctioned exact-kernel regime. Both
    sides then run the SAME closed-form learner (kernel ridge / its
    primal RFF twin, identical lambda), so the reported F1 delta
    isolates kernel-approximation error from solver differences:

    - exact:  alpha = (K + lambda I)^-1 y,  pred = sign(K_test alpha)
      with K_ij = exp(-gamma ||xi-xj||^2)
    - rff:    w = (Z'Z + lambda I)^-1 Z'y,  pred = sign(Z_test w)
      with Z the seeded Rahimi-Recht map (E[Z Z'] = K)

    Returns a dict with the two F1s, their delta, and the Gram-matrix
    approximation error (mean/max |Z Z' - K| over the slice), whose
    expected scale is ~sqrt(1/(2D)) ~= 0.06 at D=128.
    """
    Xtr, ytr = _balanced_slice(train, n_train_slice)
    Xte, yte = _balanced_slice(test, n_test_slice)
    return _rff_vs_exact(
        Xtr, ytr, Xte, yte,
        gamma=gamma, n_features=n_features, ridge=ridge, seed=seed,
    )


def _balanced_slice(d: DataFrame, n: int):
    """Deterministic class-balanced driver slice: n/2 per label, each
    half stable under repartitioning (sorted by the feature array
    itself). The ONE sanctioned exact-kernel regime — the Gram matrix
    over the slice fits on the driver by construction."""
    from pyspark.ml.functions import vector_to_array

    base = d.select(
        vector_to_array(F.col("features")).alias("x"),
        F.col("label").cast("double").alias("y"),
    )
    half0 = base.filter(F.col("y") == 0.0).orderBy("x").limit(n // 2)
    half1 = base.filter(F.col("y") == 1.0).orderBy("x").limit(n - n // 2)
    pdf = half0.unionAll(half1).toPandas()
    X = np.stack(pdf["x"].to_numpy()).astype(np.float64)
    y = pdf["y"].to_numpy().astype(np.float64)
    return X, y


def _rff_vs_exact(Xtr, ytr, Xte, yte, gamma, n_features, ridge, seed) -> dict:
    """Closed-form exact-rbf-kernel ridge vs its primal RFF twin on a
    driver slice (numpy): the measured approximation bound."""
    ypm = 2.0 * ytr - 1.0  # {0,1} -> {-1,+1} targets

    def _gram(A, B):
        sq = (
            (A * A).sum(axis=1)[:, None]
            + (B * B).sum(axis=1)[None, :]
            - 2.0 * (A @ B.T)
        )
        return np.exp(-gamma * np.clip(sq, 0.0, None))

    K = _gram(Xtr, Xtr)
    alpha = np.linalg.solve(K + ridge * np.eye(len(Xtr)), ypm)
    pred_exact = (_gram(Xte, Xtr) @ alpha) >= 0.0

    rng = np.random.RandomState(seed)
    W = rng.normal(scale=np.sqrt(2.0 * gamma), size=(Xtr.shape[1], n_features))
    b = rng.uniform(0.0, 2.0 * np.pi, size=n_features)
    scale = np.sqrt(2.0 / n_features)
    Ztr = scale * np.cos(Xtr @ W + b)
    Zte = scale * np.cos(Xte @ W + b)
    w = np.linalg.solve(Ztr.T @ Ztr + ridge * np.eye(n_features), Ztr.T @ ypm)
    pred_rff = (Zte @ w) >= 0.0

    def _f1(pred, gold):
        tp = float(np.sum(pred & (gold == 1.0)))
        fp = float(np.sum(pred & (gold == 0.0)))
        fn = float(np.sum(~pred & (gold == 1.0)))
        denom = 2 * tp + fp + fn
        return (2 * tp / denom) if denom else 1.0

    gram_err = np.abs(Ztr @ Ztr.T - K)
    return {
        "n_train_slice": int(len(Xtr)),
        "n_test_slice": int(len(Xte)),
        "f1_exact_kernel": round(_f1(pred_exact, yte), 6),
        "f1_rff": round(_f1(pred_rff, yte), 6),
        "mean_gram_err": round(float(gram_err.mean()), 6),
        "max_gram_err": round(float(gram_err.max()), 6),
    }


def rff_exact_sweep(
    train: DataFrame,
    test: DataFrame,
    gammas,
    n_train_slice: int = 500,
    n_test_slice: int = 200,
    n_features: int = 128,
    ridge: float = 1.0,
    seed: int = 42,
) -> dict:
    """Per-gamma exact-kernel bounds for the rbf sweep arm (r12 verdict
    item 3): the :func:`rff_exact_comparison` protocol — same
    deterministic class-balanced slice, same closed-form learner on
    both sides — evaluated at EACH reference gamma, with one slice
    materialization shared across gammas (the slice is
    gamma-independent). Returns {gamma: bound-dict}."""
    Xtr, ytr = _balanced_slice(train, n_train_slice)
    Xte, yte = _balanced_slice(test, n_test_slice)
    return {
        float(g): _rff_vs_exact(
            Xtr, ytr, Xte, yte,
            gamma=float(g), n_features=n_features, ridge=ridge, seed=seed,
        )
        for g in gammas
    }


# ---------------------------------------------------------------------------
# Round 13: the COMPLETE reference kernel sweep (M9 closure).
# runAllSVM (supervised_classifier.py:292-314) sweeps
# kernels=['linear','rbf','poly'] x gammas=[0.1,1,10,100] x
# degrees=[0..6] = 33 SVC configs; the repo previously shipped the
# linear arm (battery) and ONE rbf point.
# ---------------------------------------------------------------------------

REF_SVM_GAMMAS = (0.1, 1.0, 10.0, 100.0)
REF_SVM_DEGREES = (0, 1, 2, 3, 4, 5, 6)
#: concurrent fits in ``kernel_svm_sweep``'s pool (see the width note there)
_SWEEP_POOL = 4


def _poly_combos(dim: int, degree: int):
    """Index multisets + sqrt-multinomial coefficients of the EXACT
    homogeneous polynomial-kernel feature map: with
    phi_a(x) = sqrt(d!/prod(a_i!)) * prod_i x_i^{a_i} over all
    multisets |a| = d, the multinomial theorem gives
    phi(x)·phi(y) = (x·y)^d exactly — the poly kernel needs no
    RFF-style approximation at finite degree."""
    from itertools import combinations_with_replacement
    from math import factorial

    combos = list(combinations_with_replacement(range(dim), degree))
    coefs = np.empty(len(combos))
    for j, c in enumerate(combos):
        counts: dict[int, int] = {}
        for i in c:
            counts[i] = counts.get(i, 0) + 1
        m = factorial(degree)
        for v in counts.values():
            m //= factorial(v)
        coefs[j] = float(m) ** 0.5
    return combos, coefs


def _poly_transform(X: "np.ndarray", combos, coefs) -> "np.ndarray":
    """Apply the homogeneous map to a row block (vectorized over rows;
    the combo loop is O(feat_dim), each step a column multiply)."""
    Z = np.empty((len(X), len(combos)))
    for j, c in enumerate(combos):
        col = np.full(len(X), coefs[j])
        for i in c:
            col = col * X[:, i]
        Z[:, j] = col
    return Z


def poly_map_exactness(
    dim: int = 11, degrees=(1, 2, 3, 4, 5, 6), n: int = 24, seed: int = 7
) -> float:
    """Measured exactness of the production poly map: max relative
    |phi(x)·phi(y) − (x·y)^d| over a seeded sample, across degrees.
    Exercises the SAME _poly_combos/_poly_transform code the
    distributed map uses; the multinomial identity makes this float
    rounding error (~1e-12), and the sweep pins it < 1e-9 as a hard
    ok_map_exact invariant."""
    rng = np.random.RandomState(seed)
    X = rng.normal(size=(n, dim))
    worst = 0.0
    for d in degrees:
        combos, coefs = _poly_combos(dim, d)
        Z = _poly_transform(X, combos, coefs)
        K = (X @ X.T) ** d
        err = float(np.max(np.abs(Z @ Z.T - K) / (1.0 + np.abs(K))))
        worst = max(worst, err)
    return worst


def poly_features(
    df: DataFrame,
    in_col: str = "xarr",
    out_col: str = "poly",
    degree: int = 3,
    dim: int | None = None,
    scale: float = 1.0,
) -> DataFrame:
    """Append the exact homogeneous degree-``degree`` polynomial-kernel
    feature map of an array<double> column (Arrow-batched, one numpy
    pass per batch — embarrassingly parallel like the RFF map; the
    combo table is computed once on the driver and shipped in the
    closure). ``dim`` skips the probe job when the caller knows the
    width; ``scale`` uniformly multiplies the output (the sweep uses
    1/s normalization — a uniform scale folds exactly into the
    L2 regularizer, see :func:`kernel_svm_sweep`)."""
    if dim is None:
        first = df.select(F.size(in_col).alias("d")).first()
        if first is None:
            raise ValueError("poly_features: input DataFrame is empty")
        dim = int(first["d"])
    combos, coefs = _poly_combos(dim, degree)
    if scale != 1.0:
        coefs = coefs * float(scale)

    def mapper(batches):
        for pdf in batches:
            X = np.stack(pdf[in_col].to_numpy()).astype(np.float64)
            Z = _poly_transform(X, combos, coefs)
            out = pdf.copy()
            out[out_col] = list(Z)
            yield out

    schema = ", ".join(f"{c} {t}" for c, t in df.dtypes) + f", {out_col} array<double>"
    return df.mapInPandas(mapper, schema)


def sweep_prep(
    train: DataFrame,
    test: DataFrame,
    gammas=REF_SVM_GAMMAS,
    degrees=REF_SVM_DEGREES,
    n_rff: int = 128,
    seed: int = 42,
) -> dict:
    """Build (and settle) every input artifact the 33-config sweep
    needs: the per-γ RFF feature frames, the per-degree exact poly
    expansions (degrees ≥ 1), the driver slices feeding the
    exact-kernel bounds, and the degree-conditioning constants.

    Split out of :func:`kernel_svm_sweep` so a session can build these
    ONCE (``ml.shared.shared_kernel_sweep_prep``) and amortize them
    across repeated invocations (bench retimes, suites, driver +
    oracle walks) — r13 guide §1.2/§5: the expansions and cache
    settles are ~40% of a cold sweep wall and every byte of them is a
    pure deterministic function of (split, seed, grid), so sharing is
    observationally equivalent to rebuilding. The fits themselves stay
    per-invocation.

    Returns a dict with keys: dim, n_train, frames, slices,
    s2_by_degree, gammas, degrees, n_rff, seed, owns_frames.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.functions import array_to_vector, vector_to_array

    import math

    spark = train.sparkSession

    dim = len(train.select("features").first()["features"])
    arr_train = train.select(
        vector_to_array("features").alias("xarr"), "label"
    )
    arr_test = test.select(vector_to_array("features").alias("xarr"), "label")

    # Scale-adaptive parallelism for the feature builds and fits (guide
    # §2.5 input skew / §1.2 "the distributed algorithm"): the shared
    # split arrives as ONE cached partition at bench scale, which would
    # serialize every mapInPandas expansion AND every LinearSVC gradient
    # pass on a single core. Each derived frame gets a partition count
    # sized to ITS width (~32 MB of doubles per partition, capped by the
    # scheduler's core count) — the degree-6 frame (C(dim+5, 6) doubles
    # per row) spreads across cores while the 128-dim RFF frames stay at
    # one partition, whose fits are cheap and would only pay per-task
    # scheduling overhead for extra splits. Derived from the data and
    # the grid, never hard-coded to the local master.
    n_train = train.count()
    max_parts = spark.sparkContext.defaultParallelism

    def _parts_for(width: int) -> int:
        return max(1, min(max_parts,
                          math.ceil(n_train * width * 8 / (32 << 20))))

    arr_train = arr_train.cache()
    arr_test = arr_test.cache()

    def _spread(a: DataFrame, width: int) -> DataFrame:
        p = _parts_for(width)
        # repartition the NARROW source rows (a tiny shuffle) so the
        # expensive expansion itself runs p-way and the cached frame
        # lands at p partitions — never shuffle the expanded features
        return a.repartition(p) if a.rdd.getNumPartitions() != p else a

    # one deterministic driver slice serves every per-γ exact-kernel
    # bound AND the per-degree feature-scale estimate below
    Xtr, ytr = _balanced_slice(train, 500)
    Xte, yte = _balanced_slice(test, 200)

    frames: dict[object, tuple[DataFrame, DataFrame]] = {}
    for g in gammas:
        frames[("rbf", float(g))] = tuple(
            rff_features(_spread(a, n_rff), in_col="xarr", out_col="z",
                         n_features=n_rff, gamma=float(g), seed=seed)
            .select(array_to_vector("z").alias("features"), "label")
            .cache()
            for a in (arr_train, arr_test)
        )
    # conditioning: ||phi(x)||^2 = (x·x)^d EXACTLY (the multinomial
    # identity at y=x), so the typical feature-block norm is known from
    # the driver slice without a distributed pass — store psi = phi/s
    # with s^2 = mean_slice (x·x)^d, making every cached frame
    # O(1)-scaled (raw degree-6 monomials of scaled inputs reach ~1e5
    # and trip OWLQN NaN resets)
    s2_by_degree = {
        d: float(np.mean(np.sum(Xtr * Xtr, axis=1) ** d))
        for d in degrees if d > 0
    }
    for d in (d for d in degrees if d > 0):
        frames[("poly", int(d))] = tuple(
            poly_features(_spread(a, len(_poly_combos(dim, d)[0])),
                          in_col="xarr", out_col="p", degree=d,
                          dim=dim, scale=1.0 / np.sqrt(s2_by_degree[d]))
            .select(array_to_vector("p").alias("features"), "label")
            .cache()
            for a in (arr_train, arr_test)
        )

    # settle every cache up front (concurrently) so racing fits never
    # trigger duplicate materialization of one frame
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(
            lambda fr: fr.count(),
            [f for pair in frames.values() for f in pair],
        ))

    return {
        "dim": dim,
        "n_train": n_train,
        "frames": frames,
        "arr_frames": (arr_train, arr_test),
        "slices": (Xtr, ytr, Xte, yte),
        "s2_by_degree": s2_by_degree,
        "gammas": tuple(gammas),
        "degrees": tuple(degrees),
        "n_rff": n_rff,
        "seed": seed,
    }


def sweep_prep_release(prep: dict) -> None:
    """Unpersist every cached frame a :func:`sweep_prep` bundle holds."""
    for pair in prep["frames"].values():
        for f in pair:
            f.unpersist()
    for f in prep["arr_frames"]:
        f.unpersist()


def kernel_svm_sweep(
    train: DataFrame,
    test: DataFrame,
    gammas=REF_SVM_GAMMAS,
    degrees=REF_SVM_DEGREES,
    n_rff: int = 128,
    reg_param: float = 0.1,
    max_iter: int = 20,
    seed: int = 42,
    prepared: dict | None = None,
) -> DataFrame:
    """M9 COMPLETE: the reference's full 33-config SVC sweep
    (runAllSVM, supervised_classifier.py:292-314 — linear + rbf×4γ +
    poly×4γ×7degrees), Spark-shaped. One row per config in the
    reference's loop order.

    - **linear**: LinearSVC on the scaled features (exactly the linear
      kernel).
    - **rbf × γ**: one seeded RFF map per γ + LinearSVC — the
      Rahimi-Recht scale-out; each γ also carries the measured
      exact-kernel bound from :func:`rff_exact_sweep` (closed-form
      kernel ridge vs its RFF twin on the shared driver slice).
    - **poly × γ × degree**: the EXACT finite-dimensional feature map
      (:func:`poly_features` — sqrt-multinomial homogeneous monomials;
      phi(x)·phi(y) = (x·y)^d identically, no approximation) +
      LinearSVC. γ folds into the regularizer exactly: for the
      homogeneous map, phi_γ(x) = γ^{d/2}·phi(x), and substituting
      u = γ^{d/2} w in the L2-hinge objective (intercept unregularized,
      ``standardization=False``) shows that fitting the UNSCALED
      features with regParam/γ^d yields identical predictions — so
      each degree's expensive expansion runs ONCE and its four γ
      configs are four cheap fits on the cached frame
      (tests/test_round13_ops.py pins the fold differentially).
      Degree 0 is the constant kernel K≡1 (sklearn coef0=0): the map
      is the single constant feature, on which LinearSVC can only learn
      a sign, so the row is computed in closed form — predict the train
      majority class for every test row (a tie predicts 0.0, as a zero
      margin does) and score it with the same ``evaluate_binary``. The
      row is γ-invariant by construction.

    The returned report stamps hard rows-only invariants:
    ok_grid_complete (exactly the reference's 33-config grid),
    ok_f1_range, ok_map_exact (poly: measured map exactness < 1e-9;
    rbf: mean Gram error ≤ 1.25/sqrt(D); linear: trivially exact), and
    ok_best_f1_floor (the sweep's best config separates the battery
    task, F1 ≥ 0.75 — the linear arm already clears it, so a collapse
    means broken featurization/fit plumbing).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.classification import LinearSVC

    from .classify import evaluate_binary

    spark = train.sparkSession

    def f1_of(model, te: DataFrame) -> float:
        return float(evaluate_binary(model.transform(te)).first()["f1"])

    # keyed (kernel, gamma, degree) -> (feat_dim, f1, mean_gram_err,
    # f1_exact_kernel); assembled into reference loop order at the end
    results: dict[tuple, tuple] = {}
    if 0 in degrees:
        # K ≡ 1 in closed form (see docstring): the train majority
        n_pos = train.filter(F.col("label") == 1.0).count()
        majority = 1.0 if 2 * n_pos > train.count() else 0.0
        f1_const = float(evaluate_binary(
            test.select("label", F.lit(majority).alias("prediction"))
        ).first()["f1"])
        for g in gammas:
            results[("poly", float(g), 0)] = (1, f1_const, None, None)

    # Stage 1 — the prep bundle: every feature frame (one RFF map per
    # γ, one exact poly expansion per degree ≥ 1), cached and settled,
    # plus the driver slices and conditioning constants (see
    # :func:`sweep_prep`; a session-shared bundle skips the whole stage
    # on repeat invocations). Stage 2 — run every fit
    # through ONE bounded thread pool: the configs are independent,
    # MLlib fits run in the JVM and release the GIL (CrossValidator's
    # own parallelism pattern). The pool is SMALL (guide §2.6: "2-3
    # jobs in flight is plenty"): each OWLQN iteration is one short
    # job, so a wide pool just serializes dozens of concurrent jobs
    # through the single DAGScheduler event loop — measured 12 workers
    # ≈ 119 s vs 4 workers ≈ the serial-fit sum / 4. Wide frames
    # already use multi-partition jobs (sweep_prep's _spread), so 4 in
    # flight saturates cores. Deterministic: every fit reads its own
    # settled cached frame.
    owns_prep = prepared is None
    if owns_prep:
        prepared = sweep_prep(
            train, test, gammas=gammas, degrees=degrees,
            n_rff=n_rff, seed=seed,
        )
    dim = prepared["dim"]
    frames = prepared["frames"]
    Xtr, ytr, Xte, yte = prepared["slices"]
    s2_by_degree = prepared["s2_by_degree"]

    def fit_task(key):
        kernel = key[0]
        if kernel == "linear":
            mdl = LinearSVC(maxIter=max_iter, regParam=reg_param).fit(train)
            return key, (dim, f1_of(mdl, test), None, None)
        if kernel == "rbf":
            g = key[1]
            tr, te = frames[("rbf", g)]
            mdl = LinearSVC(maxIter=max_iter, regParam=reg_param).fit(tr)
            b = _rff_vs_exact(Xtr, ytr, Xte, yte, gamma=g,
                              n_features=n_rff, ridge=1.0, seed=seed)
            return key, (n_rff, f1_of(mdl, te),
                         b["mean_gram_err"], b["f1_exact_kernel"])
        g, d = key[1], key[2]
        tr, te = frames[("poly", d)]
        # exact γ fold: the target model is (γ^{d/2}·phi, regParam); on
        # the stored psi = phi/s the SAME predictions come from
        # regParam/(γ^d·s^2) (substitute u = γ^{d/2}·s·w; intercept
        # unregularized, standardization off). The floor clamps the
        # numerically-flat tail: below 1e-10 the regularizer is
        # sub-machine-eps against the O(1)-scale hinge loss, so
        # predictions are indistinguishable and OWLQN just burns
        # NaN-reset iterations.
        rp = max(reg_param / (float(g) ** d * s2_by_degree[d]), 1e-10)
        mdl = LinearSVC(
            maxIter=max_iter, regParam=rp, tol=1e-3,
            standardization=False,
        ).fit(tr)
        return key, (len(_poly_combos(dim, d)[0]), f1_of(mdl, te),
                     None, None)

    tasks: list[tuple] = [("linear", None, None)]
    tasks += [("rbf", float(g), None) for g in gammas]
    # Identical-fit memoization (guide §1.2 "don't compute things you
    # throw away"): the exact γ-fold maps each poly config to
    # rp = max(regParam/(γ^d·s2_d), 1e-10) on the SAME cached frame —
    # every config of one degree whose folded rp lands on the same
    # value (in particular the 1e-10 clamp, which γ=10 and γ=100 both
    # hit from degree 2 up) specifies the IDENTICAL LinearSVC fit:
    # same data, same params, same deterministic OWLQN trajectory.
    # Fit each distinct (degree, rp) once and share the (feat_dim, f1)
    # result across its configs — observationally identical to
    # re-running the fit (the duplicate fits already returned equal
    # rows), minus the duplicate fit + transform + evaluate jobs.
    def _poly_rp(g: float, d: int) -> float:
        return max(reg_param / (float(g) ** d * s2_by_degree[d]), 1e-10)

    rp_groups: dict[tuple, list[tuple]] = {}
    for g in gammas:
        for d in degrees:
            if d > 0:
                rp_groups.setdefault(
                    (int(d), _poly_rp(float(g), int(d))), []
                ).append(("poly", float(g), int(d)))
    tasks += [members[0] for members in rp_groups.values()]
    # shortest-fit-first (SPT): measured cold-session profile shows the
    # first pool wave pays the JVM's one-time JIT/codegen warm-up for
    # the whole LinearSVC/OWLQN path — a longest-first schedule lands
    # that tax on the four degree-6 fits, which then run lock-step
    # interpreted (25-50 s each vs 5.5 s warm, all finishing together).
    # Cheapest-first lets the ~1.5 s fits absorb compilation while the
    # heavy fits run compiled; the warm-case makespan is unchanged
    # because the final degree-6 wave exactly fills the pool (4 fits,
    # 4 workers, 8-partition jobs saturating the cores).
    # Cost heuristic: a fit's wall tracks its frame width (rows are
    # shared), with the 1-partition rbf/linear fits measured around the
    # d4-width cost. Deterministic, affects scheduling only.
    def _cost(key) -> float:
        if key[0] == "poly":
            return float(len(_poly_combos(dim, key[2])[0]))
        return 1100.0

    tasks.sort(key=_cost)
    # Serial JIT pre-warm (guide §1.2 order-of-operations, r13): even
    # with SPT ordering, a cold pool's FIRST WAVE is N interpreted
    # LinearSVC/OWLQN fits competing for the JIT compiler — measured
    # in-bench first runs of 325 s (width 8) / 65-124 s (width 4)
    # against ~20 s warm. Running the cheapest task (the width-``dim``
    # degree-1 fit) to completion BEFORE the pool opens compiles the
    # whole fit/transform/evaluate path once, so the wave runs
    # compiled. Same fits, same results — scheduling only.
    prewarm = tasks.pop(0)
    # pool width: each fit is ~20 sequential sub-100ms OWLQN barrier
    # jobs, so warm wall ≈ (sum of fit walls) / width — measured
    # interleaved warm: width 8 = 15.4/16.8 s vs width 4 =
    # 21.1-25.5 s. BUT the cold path inverts hard: 8 concurrent
    # pre-JIT fits thrash the compiler (in-bench first run 325 s at
    # width 8 vs 23-75 s at width 4 — the same interpreted-wave
    # pathology the SPT ordering exists for, squared). The bench and
    # any fresh session hit the cold path first, so the width stays at
    # the JIT-safe _SWEEP_POOL.
    def _record(key, res):
        if key[0] == "poly":
            # share the representative fit's row with every config in
            # its identical-(degree, rp) group
            for member in rp_groups[(key[2], _poly_rp(key[1], key[2]))]:
                results[member] = res
        else:
            results[key] = res

    try:
        _record(*fit_task(prewarm))
        with ThreadPoolExecutor(max_workers=_SWEEP_POOL) as ex:
            for key, res in ex.map(fit_task, tasks):
                _record(key, res)
    finally:
        if owns_prep:
            sweep_prep_release(prepared)

    # --- assemble in the reference's exact loop order -------------------
    # (kernels outer; rbf: gammas; poly: gammas outer, degrees inner —
    # supervised_classifier.py:299-313)
    order: list[tuple] = [("linear", None, None)]
    order += [("rbf", float(g), None) for g in gammas]
    order += [
        ("poly", float(g), int(d)) for g in gammas for d in degrees
    ]
    map_err = poly_map_exactness(dim=dim, degrees=[d for d in degrees if d > 0])
    n_expected = 1 + len(gammas) * (1 + len(degrees))
    rows = []
    for cid, key in enumerate(order, start=1):
        kernel, g, d = key
        feat_dim, f1, gram_err, f1_exact = results[key]
        rows.append((
            cid, kernel, g, d, int(feat_dim), round(f1, 6),
            gram_err, f1_exact,
        ))
    best_f1 = max(r[5] for r in rows)
    out = spark.createDataFrame(
        rows,
        "config_id int, kernel string, gamma double, degree int, "
        "feat_dim int, f1 double, mean_gram_err double, "
        "f1_exact_kernel double",
    )
    # rbf bound: per-entry RFF estimator variance is ≤ 1/D (each of the
    # D cos-product terms is bounded by 2/D), so mean |err| over the
    # slice Gram concentrates under 1/sqrt(D); 1.25/sqrt(D) (~0.11 at
    # D=128) holds across the γ sweep with margin (measured worst
    # ~0.092 at γ=1) while a broken map (wrong W scale, lost cos
    # offset) lands at O(1) and fails immediately
    ok_exact = (
        F.when(F.col("kernel") == "poly", F.lit(map_err < 1e-9))
        .when(
            F.col("kernel") == "rbf",
            F.col("mean_gram_err") <= float(1.25 / np.sqrt(n_rff)),
        )
        .otherwise(F.lit(True))
    )
    return (
        out.withColumn("ok_grid_complete", F.lit(len(rows) == n_expected))
        .withColumn("ok_f1_range", (F.col("f1") >= 0) & (F.col("f1") <= 1))
        .withColumn("ok_map_exact", ok_exact)
        .withColumn("ok_best_f1_floor", F.lit(best_f1 >= 0.75))
    )
