"""Distributed full-batch MLP training for the M22 MLP search arm
(reference ``runMLPClassifierBayesSearchCV``,
``supervised_classifier.py:493-524``: BayesSearchCV n_iter=30 over
hidden_layer_sizes {(50,50,50),(50,100,50),(100,)} ×
activation {tanh,relu,logistic,identity} × solver {sgd,adam,lbfgs} ×
learning_rate {constant,adaptive,invscaling} ×
alpha log-uniform [1e-4, 0.9]).

Spark's ``MultilayerPerceptronClassifier`` fixes the activation
(sigmoid) and has no L2 term, so it cannot express four of the five
grid dimensions. This module trains the reference's exact
architecture space with the repo's established distributed-GD shape
(``ModifiedHuberGD``): every epoch is ONE distributed pass — a
mapPartitions gradient block-sum over cached numpy blocks folded into
a driver-side parameter update — so the loop costs epochs × one job
and shuffles O(n_params) doubles per partition regardless of corpus
size (the standard full-batch data-parallel training pattern; at
1000 executors the same pass tree-aggregates 1000 gradient blocks).

A BATCH of independent configs trains in the SAME pass: each
partition computes every live model's gradient on its block, so a
q-EI proposal batch of 10 configs costs the same job count as one.
To keep every solver lockstep (one gradient eval per epoch per
model — the property that makes batching possible), lbfgs is a
deterministic two-loop-recursion L-BFGS with fixed step damping
instead of line search (documented deviation; sgd/adam are the
textbook full-batch updates). sklearn semantics preserved where they
matter: the learning_rate schedule only applies to solver='sgd'
(inert otherwise — exactly as in sklearn), alpha regularizes weights
only (not biases) scaled by 1/n, and the output unit is a single
sigmoid under binary cross-entropy.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dispatch

MLP_HIDDEN = ((50, 50, 50), (50, 100, 50), (100,))
MLP_ACTIVATIONS = ("tanh", "relu", "logistic", "identity")
MLP_SOLVERS = ("sgd", "adam", "lbfgs")
MLP_LEARNING_RATES = ("constant", "adaptive", "invscaling")
MLP_ALPHA_BOUNDS = (1e-4, 0.9)


@dataclass(frozen=True)
class MLPConfig:
    hidden: tuple
    activation: str
    solver: str
    learning_rate: str
    alpha: float
    seed: int = 0


def mlp_blocks(df: DataFrame, rows_per_part: int = 50_000):
    """(RDD of (X, y) numpy blocks, n_rows, dim) from a (features
    vector, label) frame. Task count sized to the data like
    ModifiedHuberGD: one partition per ~rows_per_part rows, so tiny
    bench corpora don't schedule 32 near-empty tasks per epoch while a
    100 TB corpus yields thousands of parallel gradient blocks."""
    from pyspark.ml.functions import vector_to_array

    base = df.select(
        vector_to_array(F.col("features")).alias("x"),
        F.col("label").cast("double").alias("y"),
    )
    n = base.count()
    target_parts = max(1, int(np.ceil(n / rows_per_part)))
    if base.rdd.getNumPartitions() > 4 * target_parts:
        base = base.coalesce(target_parts)

    def to_block(it):
        xs, ys = [], []
        for r in it:
            xs.append(r["x"])
            ys.append(r["y"])
        if xs:
            yield (
                np.array(xs, dtype=np.float64),
                np.array(ys, dtype=np.float64),
            )

    rdd = base.rdd.mapPartitions(to_block).persist()
    first = rdd.first()
    dim = int(first[0].shape[1])
    return rdd, n, dim


def _init_params(cfg: MLPConfig, dim: int) -> list:
    """Seeded Glorot-uniform init, [(W1,b1),...,(Wout,bout)]."""
    rng = np.random.RandomState(1234 + cfg.seed)
    sizes = [dim, *cfg.hidden, 1]
    params = []
    for a, b in zip(sizes[:-1], sizes[1:]):
        lim = np.sqrt(6.0 / (a + b))
        params.append(
            (rng.uniform(-lim, lim, size=(a, b)), np.zeros(b))
        )
    return params


def _act(z: np.ndarray, kind: str) -> np.ndarray:
    if kind == "tanh":
        return np.tanh(z)
    if kind == "relu":
        return np.maximum(z, 0.0)
    if kind == "logistic":
        return 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
    return z  # identity


def _act_grad(a: np.ndarray, kind: str) -> np.ndarray:
    if kind == "tanh":
        return 1.0 - a * a
    if kind == "relu":
        return (a > 0.0).astype(np.float64)
    if kind == "logistic":
        return a * (1.0 - a)
    return np.ones_like(a)


def _forward(X: np.ndarray, params: list, activation: str):
    acts = [X]
    for w, b in params[:-1]:
        acts.append(_act(acts[-1] @ w + b, activation))
    w, b = params[-1]
    z = np.clip(acts[-1] @ w.reshape(-1) + b[0], -35, 35)
    p = 1.0 / (1.0 + np.exp(-z))  # sigmoid output, BCE loss
    return acts, p


def _block_grad(X, y, params, activation):
    """(flat gradient of the SUMMED BCE loss over the block, summed
    loss) — alpha's L2 term is added driver-side (it doesn't depend on
    the data, so shipping it per block would just bias by n_blocks)."""
    acts, p = _forward(X, params, activation)
    # dL/dz_out for BCE+sigmoid: (p - y), summed over rows
    delta = (p - y)[:, None]  # (n, 1)
    grads = [None] * len(params)
    w_out, _ = params[-1]
    grads[-1] = (acts[-1].T @ delta, delta.sum(axis=0))
    d = delta @ w_out.reshape(1, -1)
    for li in range(len(params) - 2, -1, -1):
        d = d * _act_grad(acts[li + 1], activation)
        grads[li] = (acts[li].T @ d, d.sum(axis=0))
        if li > 0:
            d = d @ params[li][0].T
    eps = 1e-12
    loss = -np.sum(
        y * np.log(p + eps) + (1.0 - y) * np.log(1.0 - p + eps)
    )
    return (
        np.concatenate([np.concatenate([g.ravel(), gb]) for g, gb in grads]),
        float(loss),
    )


def _flatten(params):
    return np.concatenate(
        [np.concatenate([w.ravel(), b]) for w, b in params]
    )


def _unflatten(flat, shapes):
    params, off = [], 0
    for ws, bs in shapes:
        w = flat[off:off + int(np.prod(ws))].reshape(ws)
        off += int(np.prod(ws))
        b = flat[off:off + bs[0]]
        off += bs[0]
        params.append((w, b))
    return params


def _weight_mask(shapes):
    """1.0 on weight coordinates, 0.0 on biases (sklearn regularizes
    coefs only)."""
    parts = []
    for ws, bs in shapes:
        parts.append(np.ones(int(np.prod(ws))))
        parts.append(np.zeros(bs[0]))
    return np.concatenate(parts)


def _dot(a: np.ndarray, b: np.ndarray) -> float:
    """Inner product whose rounding ignores the BLAS thread count (BLAS
    ``a @ b`` splits ~10k+ sums across threads): the lockstep path
    steps solvers on the driver, the config-parallel one in a
    one-thread Python worker, and both must round alike."""
    return float(np.sum(a * b))


class _SolverState:
    """Per-model solver bookkeeping: one gradient eval per epoch for
    every solver (the lockstep property that lets a batch of configs
    share each distributed pass)."""

    def __init__(self, cfg: MLPConfig, n_params: int):
        self.cfg = cfg
        self.t = 0
        self.m = np.zeros(n_params)  # adam first moment
        self.v = np.zeros(n_params)  # adam second moment
        self.hist: list = []          # lbfgs (s, y) pairs, newest last
        self.prev_flat = None
        self.prev_grad = None
        self.lr = 0.1                 # sgd base rate (full-batch scale)
        self.best_loss = np.inf
        self.no_improve = 0

    def step(self, flat: np.ndarray, grad: np.ndarray, loss: float):
        self.t += 1
        cfg = self.cfg
        if cfg.solver == "adam":
            b1, b2, lr, eps = 0.9, 0.999, 0.02, 1e-8
            self.m = b1 * self.m + (1 - b1) * grad
            self.v = b2 * self.v + (1 - b2) * grad * grad
            mh = self.m / (1 - b1 ** self.t)
            vh = self.v / (1 - b2 ** self.t)
            return flat - lr * mh / (np.sqrt(vh) + eps)
        if cfg.solver == "lbfgs":
            if self.prev_flat is not None:
                s = flat - self.prev_flat
                yv = grad - self.prev_grad
                if _dot(s, yv) > 1e-10:
                    self.hist.append((s, yv))
                    if len(self.hist) > 5:
                        self.hist.pop(0)
            q = grad.copy()
            alphas = []
            for s, yv in reversed(self.hist):
                rho = 1.0 / _dot(s, yv)
                a = rho * _dot(s, q)
                alphas.append((rho, a, s, yv))
                q -= a * yv
            if self.hist:
                s, yv = self.hist[-1]
                q *= _dot(s, yv) / _dot(yv, yv)
            else:
                q *= 0.05 / (np.sqrt(_dot(q, q)) + 1e-12)
            for rho, a, s, yv in reversed(alphas):
                beta = rho * _dot(yv, q)
                q += s * (a - beta)
            self.prev_flat, self.prev_grad = flat.copy(), grad.copy()
            # fixed 0.5 damping instead of a line search: one gradient
            # eval per iteration keeps the whole batch lockstep
            return flat - 0.5 * q
        # sgd with the sklearn schedule semantics (only solver where
        # learning_rate applies)
        if cfg.learning_rate == "invscaling":
            lr = self.lr / (self.t ** 0.5)
        elif cfg.learning_rate == "adaptive":
            if loss < self.best_loss - 1e-6:
                self.best_loss, self.no_improve = loss, 0
            else:
                self.no_improve += 1
                if self.no_improve >= 2:
                    self.lr = max(self.lr / 5.0, 1e-4)
                    self.no_improve = 0
            lr = self.lr
        else:
            lr = self.lr
        return flat - lr * grad


def _train_one_config(data_blocks, n_rows: int, dim: int, cfg: MLPConfig,
                      epochs: int):
    """Full training loop for ONE config over an in-memory block list —
    the config-parallel task body. Float math is kept IDENTICAL to the
    lockstep path: blocks are walked in partition order and the
    per-epoch gradient folds left-to-right exactly like
    ``mapPartitions(part_grads).reduce(add)`` (each partition holds one
    block, so the flat left fold IS the reduce's fold), and the
    grad/loss normalization + solver step reuse the same expressions."""
    params = _init_params(cfg, dim)
    shp = [(w.shape, b.shape) for w, b in params]
    flat = _flatten(params)
    state = _SolverState(cfg, flat.size)
    mask = _weight_mask(shp)
    alpha = float(cfg.alpha)
    for _ in range(epochs):
        tot = None
        for X, y in data_blocks:
            g, loss = _block_grad(X, y, _unflatten(flat, shp),
                                  cfg.activation)
            gv = np.concatenate([g, [loss]])
            tot = gv if tot is None else tot + gv
        grad, loss = tot[:-1], float(tot[-1])
        grad = grad / n_rows + (alpha / n_rows) * mask * flat
        loss = loss / n_rows + (alpha / (2.0 * n_rows)) * float(
            np.sum((mask * flat) ** 2)
        )
        flat = state.step(flat, grad, loss)
    return flat, shp


def _train_mlp_batch_config_parallel(
    blocks, n_rows: int, dim: int, configs: list, epochs: int
) -> list:
    """One Spark task per config, each training start-to-finish on the
    broadcast block list — `len(configs)` independent tasks instead of
    `epochs` barriers (the config axis is embarrassingly parallel; this
    is CrossValidator's parallelism shape). The collect is bounded by
    dispatch.DENSE_BYTES (checked by the dispatcher)."""
    sc = blocks.context
    data = blocks.collect()  # bounded: dispatcher checked the budget
    bc = sc.broadcast(data)
    try:
        def run(i, _cfgs=configs, _n=n_rows, _d=dim, _e=epochs):
            flat, shp = _train_one_config(bc.value, _n, _d, _cfgs[i], _e)
            return i, flat, shp

        out = dict(
            (i, (flat, shp))
            for i, flat, shp in sc.parallelize(
                range(len(configs)), len(configs)
            ).map(run).collect()
        )
    finally:
        bc.unpersist()
    return [
        _unflatten(out[i][0], out[i][1]) for i in range(len(configs))
    ]


def train_mlp_batch(
    blocks, n_rows: int, dim: int, configs: list, epochs: int = 20
) -> list:
    """Train every config in ``configs`` simultaneously: each of the
    ``epochs`` distributed passes computes ALL models' block gradients
    (a list of flat arrays per partition, summed pairwise by reduce),
    then each model's solver folds its own update driver-side. Returns
    the fitted flat parameter vectors, config-aligned.

    When the training data fits dispatch.DENSE_BYTES the parallel
    axis is the CONFIGS: one task per config, no per-epoch barriers,
    instead of `epochs` lockstep barriers whose compute lands on as
    few cores as there are data partitions. At 100 TB the lockstep
    data-parallel path below runs. Both give BIT-IDENTICAL models (same
    block order and left-to-right gradient fold; tests/test_dispatch.py)."""
    if len(configs) > 1 and dispatch.fits_driver(n_rows * (dim + 1) * 8):
        return _train_mlp_batch_config_parallel(
            blocks, n_rows, dim, configs, epochs
        )
    shapes = []
    flats = []
    states = []
    masks = []
    for cfg in configs:
        params = _init_params(cfg, dim)
        shp = [(w.shape, b.shape) for w, b in params]
        shapes.append(shp)
        flats.append(_flatten(params))
        states.append(_SolverState(cfg, flats[-1].size))
        masks.append(_weight_mask(shp))
    acts = [cfg.activation for cfg in configs]
    alphas = [float(cfg.alpha) for cfg in configs]

    for _ in range(epochs):
        cur = [(f, s, a) for f, s, a in zip(flats, shapes, acts)]

        def part_grads(it, _cur=cur):
            out = None
            for X, y in it:
                gs = []
                for flat, shp, act in _cur:
                    g, loss = _block_grad(
                        X, y, _unflatten(flat, shp), act
                    )
                    gs.append(np.concatenate([g, [loss]]))
                out = gs if out is None else [
                    a + b for a, b in zip(out, gs)
                ]
            if out is not None:
                yield out

        summed = blocks.mapPartitions(part_grads).reduce(
            lambda a, b: [x + y for x, y in zip(a, b)]
        )
        for i, gvec in enumerate(summed):
            grad, loss = gvec[:-1], float(gvec[-1])
            # mean loss + alpha/(2n)||W||^2 (sklearn's scaling)
            grad = grad / n_rows + (alphas[i] / n_rows) * masks[i] * flats[i]
            loss = loss / n_rows + (alphas[i] / (2.0 * n_rows)) * float(
                np.sum((masks[i] * flats[i]) ** 2)
            )
            flats[i] = states[i].step(flats[i], grad, loss)
    return [
        _unflatten(flat, shp) for flat, shp in zip(flats, shapes)
    ]


def score_mlp_batch(test_blocks, models: list, configs: list) -> list:
    """Per-model F1 on the test blocks in ONE distributed pass: each
    partition emits every model's (tp, fp, fn) on its block."""
    payload = [
        ([(w.copy(), b.copy()) for w, b in m], cfg.activation)
        for m, cfg in zip(models, configs)
    ]

    def part_counts(it, _payload=payload):
        out = None
        for X, y in it:
            cs = []
            for params, act in _payload:
                _, p = _forward(X, params, act)
                pred = p >= 0.5
                tp = float(np.sum(pred & (y == 1.0)))
                fp = float(np.sum(pred & (y == 0.0)))
                fn = float(np.sum(~pred & (y == 1.0)))
                cs.append(np.array([tp, fp, fn]))
            out = cs if out is None else [a + b for a, b in zip(out, cs)]
        if out is not None:
            yield out

    summed = test_blocks.mapPartitions(part_counts).reduce(
        lambda a, b: [x + y for x, y in zip(a, b)]
    )
    f1s = []
    for tp, fp, fn in summed:
        denom = 2 * tp + fp + fn
        f1s.append((2 * tp / denom) if denom else 0.0)
    return f1s
