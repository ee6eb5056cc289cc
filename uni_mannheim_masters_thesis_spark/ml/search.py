"""Hyperparameter search + transfer evaluation (reference M22 / M24).

- **Grid search** (`grid_search_logistic`): the reference runs
  ``BayesSearchCV`` (30 iter, scoring='f1',
  ``supervised_classifier.py:227-234``) — MLlib has no Bayesian
  optimizer, so this is the documented deviation to
  ``CrossValidator`` + ``ParamGridBuilder`` (SURVEY §2.8 M22). Each
  (fold, param) fit is a distributed Spark job; the grid loop is
  driver-side and small.
- **Hold-out transfer** (`holdout_transfer`): the reference trains on
  length-admitted docs and scores the trained model on the
  length-*excluded* docs (``testModelonExcluded``,
  ``supervised_classifier.py:546-561``) — here: fit on one partition of
  the data, transform the excluded partition, report the same A4/A5
  confusion metrics.
"""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .classify import attach_eval_invariants, evaluate_binary

SEED = 42


def grid_search_logistic(
    data: DataFrame,
    reg_params=(0.01, 0.1, 1.0),
    elastic_net=(0.0, 0.5),
    num_folds: int = 3,
    features_col: str = "features",
    label_col: str = "label",
    seed: int = SEED,
) -> DataFrame:
    """M22: k-fold CV over an LR param grid, scored by F1.

    Returns one row per grid point: [reg_param, elastic_net_param,
    avg_f1, is_best] — the shape of the reference's search log
    (polysemous_words.py:164-178).
    """
    lr = LogisticRegression(
        maxIter=25, featuresCol=features_col, labelCol=label_col
    )
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, list(reg_params))
        .addGrid(lr.elasticNetParam, list(elastic_net))
        .build()
    )
    evaluator = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="f1"
    )
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=num_folds,
        seed=seed,
        parallelism=8,
    )
    model = cv.fit(data)
    rows = [
        (
            float(pm[lr.regParam]),
            float(pm[lr.elasticNetParam]),
            float(metric),
        )
        for pm, metric in zip(grid, model.avgMetrics)
    ]
    best = max(r[2] for r in rows)
    spark = data.sparkSession
    out = spark.createDataFrame(
        rows, "reg_param double, elastic_net_param double, avg_f1 double"
    )
    # ok_* columns are HARD invariants the local harness enforces on
    # rows-only queries: the CV produced a score for every grid point
    # and every score is a valid F1.
    return out.select(
        "reg_param",
        "elastic_net_param",
        F.round("avg_f1", 6).alias("avg_f1"),
        (F.col("avg_f1") >= F.lit(best)).alias("is_best"),
        F.lit(len(rows) == len(grid)).alias("ok_grid_complete"),
        ((F.col("avg_f1") >= 0) & (F.col("avg_f1") <= 1)).alias("ok_f1_range"),
    )


def holdout_transfer(
    admitted: DataFrame,
    excluded: DataFrame,
    features_col: str = "features",
    label_col: str = "label",
) -> DataFrame:
    """M24: fit on the admitted set, score the excluded set; one row of
    [split, n, tp, fp, tn, fn, precision, recall, accuracy, f1] for each
    of in-domain (admitted 20% holdout) and transfer (excluded)."""
    train, holdout = admitted.randomSplit([0.8, 0.2], seed=SEED)
    lr = LogisticRegression(
        maxIter=25, regParam=0.1, featuresCol=features_col, labelCol=label_col
    )
    model = lr.fit(train)
    out = None
    for split_name, part in (("in_domain", holdout), ("transfer", excluded)):
        scored = model.transform(part)
        row = (
            evaluate_binary(scored, label_col=label_col)
            .withColumn("split", F.lit(split_name))
            .withColumn("n", F.lit(part.count()))
        )
        out = row if out is None else out.unionByName(row)
    return attach_eval_invariants(
        out.select(
            "split", "n", "tp", "fp", "tn", "fn",
            "precision", "recall", "accuracy", "f1",
        )
    )


def adaptive_search_logistic(
    data: DataFrame,
    n_trials: int = 15,
    n_init: int = 5,
    num_folds: int = 2,
    gamma: float = 0.3,
    n_candidates: int = 32,
    log10_bounds: tuple = (-4.0, 1.0),
    features_col: str = "features",
    label_col: str = "label",
    seed: int = SEED,
) -> DataFrame:
    """M22, sequential surrogate-guided variant: the reference runs
    ``BayesSearchCV``/``skopt.forest_minimize`` — sequential
    model-based optimization where each trial conditions on all previous
    results (supervised_classifier.py:210-244,
    polysemous_words.py:271-281). This is a TPE-style implementation
    (Bergstra et al. 2011, "Algorithms for Hyper-Parameter
    Optimization") of the same semantics:

    - search space: log10(regParam) ∈ log10_bounds, elasticNet ∈ {0, .5};
    - after ``n_init`` seeded quasi-random warmup trials, each proposal
      splits observed trials into good/bad by the ``gamma``-quantile of
      F1 and scores seeded candidates by the KDE density ratio
      l(x)/g(x), taking the argmax — the TPE acquisition;
    - every trial = ``num_folds``-fold CV on fold splits that are
      assigned ONCE and cached by the caller's contract (the driver loop
      is over trials, the fits are distributed Spark jobs).

    Deterministic given the seed (numpy RandomState drives warmup and
    candidates; KDE bandwidth is Silverman's rule on the observed
    points). Returns one row per trial:
    [trial, reg_param, elastic_net_param, avg_f1, is_best].
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    lo, hi = log10_bounds
    enet_choices = (0.0, 0.5)

    # fold split: assigned once, both sides of every fold cached
    weights = [1.0 / num_folds] * num_folds
    parts = data.randomSplit(weights, seed=seed)
    folds = []
    for i in range(num_folds):
        train = None
        for j, p in enumerate(parts):
            if j != i:
                train = p if train is None else train.unionByName(p)
        folds.append((train.cache(), parts[i].cache()))
    # settle the fold caches before the first trial's concurrent fits —
    # otherwise two threads race to populate the same cache partitions
    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=2 * num_folds) as _ex:
        list(_ex.map(lambda d: d.count(), [d for f in folds for d in f]))

    evaluator = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName="f1"
    )

    def cv_f1(log_reg: float, enet: float) -> float:
        # tol=1e-4: the search only ranks candidates by CV F1, where
        # 1e-6-level objective changes are far below fold noise — the
        # looser tolerance early-stops each of the n_trials×num_folds
        # sequential fits several iterations sooner (every iteration is
        # a full distributed pass), deterministically
        lr = LogisticRegression(
            maxIter=25, regParam=float(10.0 ** log_reg),
            elasticNetParam=float(enet), tol=1e-4,
            featuresCol=features_col, labelCol=label_col,
        )

        # the TRIALS are sequential by construction (each conditions on
        # history), but the folds within one trial are independent —
        # fit them concurrently (MLlib fits run in the JVM and release
        # the GIL; this is CrossValidator's own parallelism knob)
        def one(fold):
            train, held = fold
            model = lr.fit(train)
            return evaluator.evaluate(model.transform(held))

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(folds)) as ex:
            scores = list(ex.map(one, folds))
        return float(np.mean(scores))

    def kde_logpdf(x: float, pts: np.ndarray) -> float:
        # 1-D Gaussian KDE with Silverman bandwidth, floored so a
        # degenerate (single/identical-point) set stays proper
        bw = max(1.06 * (np.std(pts) or 0.0) * len(pts) ** -0.2, 0.25)
        z = (x - pts) / bw
        return float(np.log(np.mean(np.exp(-0.5 * z * z)) / bw + 1e-12))

    trials: list[tuple[float, float, float]] = []  # (log_reg, enet, f1)
    # the n_init warmup trials condition on NOTHING — their params are
    # drawn from the rng stream in trial order up front (identical
    # stream: cv_f1 never touches the rng) and scored concurrently
    # (guide §2.6; the folds inside each trial already overlap). The
    # TPE proposals stay sequential by construction.
    warm_params = [
        (float(rng.uniform(lo, hi)), float(enet_choices[t % len(enet_choices)]))
        for t in range(min(n_init, n_trials))
    ]
    with _TPE(max_workers=max(1, len(warm_params))) as _wex:
        warm_scores = list(
            _wex.map(lambda p: cv_f1(p[0], p[1]), warm_params)
        )
    trials.extend(
        (lr_, en, f1) for (lr_, en), f1 in zip(warm_params, warm_scores)
    )
    for t in range(len(warm_params), n_trials):
        obs = sorted(trials, key=lambda r: -r[2])
        n_good = max(1, int(round(gamma * len(obs))))
        good = np.array([r[0] for r in obs[:n_good]])
        bad = np.array([r[0] for r in obs[n_good:]] or [0.5 * (lo + hi)])
        cands = rng.uniform(lo, hi, size=n_candidates)
        ei = [kde_logpdf(c, good) - kde_logpdf(c, bad) for c in cands]
        log_reg = float(cands[int(np.argmax(ei))])
        # discrete dim: majority label among the good trials
        good_enets = [r[1] for r in obs[:n_good]]
        enet = float(
            max(enet_choices, key=lambda e: good_enets.count(e))
        )
        trials.append((log_reg, enet, cv_f1(log_reg, enet)))

    # every fit is done and the report below is a local relation — the
    # fold caches would otherwise stay pinned for the session (the
    # q_leakage_safe_split leak class)
    for tr, he in folds:
        tr.unpersist()
        he.unpersist()
    best = max(r[2] for r in trials)
    spark = data.sparkSession
    out = spark.createDataFrame(
        [
            (i + 1, round(10.0 ** lr_, 8), en, round(f1, 6))
            for i, (lr_, en, f1) in enumerate(trials)
        ],
        "trial int, reg_param double, elastic_net_param double, avg_f1 double",
    )
    return (
        out.withColumn("is_best", F.col("avg_f1") >= F.lit(round(best, 6)))
        # hard harness-enforced invariants: every trial scored, valid F1
        .withColumn("ok_trials_complete", F.lit(len(trials) == n_trials))
        .withColumn(
            "ok_f1_range", (F.col("avg_f1") >= 0) & (F.col("avg_f1") <= 1)
        )
    )


def rule_point_search(
    scored: DataFrame,
    probs_col: str = "topic_probs",
    gold_col: str = "gold",
    len_col: str = "doc_len",
    prob_bounds: tuple = (0.05, 0.1),
    topic_bounds: tuple = (1, 5),
    len_bounds: tuple = (5, 500),
    n_trials: int = 15,
    gamma: float = 0.3,
    n_candidates: int = 32,
    seed: int = SEED,
) -> DataFrame:
    """M22, second loop: surrogate search over the POLYSEMY-RULE
    operating point, not classifier hyperparams.

    The reference's ``skopt.forest_minimize`` run
    (polysemous_words.py:271-281) searches the FULL 3-D space
    ``MIN_DOC_LEN ∈ Integer(5, 500)`` (polysemous_words.py:49) ×
    ``minimum_probability ∈ [PROB_MIN, PROB_MAX] = [0.05, 0.1]`` ×
    ``minimum_topics_polysemeous ∈ [T_MIN, T_MAX] = [1, 5]``
    (space at polysemous_words.py:33-38,48-52), re-evaluating the rule
    over every concept's topic distribution per trial and scoring F1
    against the wiki-disambiguation gold (train_evaluate,
    polysemous_words.py:198-234). This mirrors that loop with the same
    TPE-style surrogate as :func:`adaptive_search_logistic`:

    - the expensive part (LDA inference) is done ONCE by the caller;
      ``scored`` holds each doc's topic-probability array, its token
      count, and a param-independent gold flag, materialized once by
      the caller for every trial;
    - each trial ADMITS docs with ``doc_len >= min_doc_len`` (the
      reference's MIN_DOC_LEN gate excludes short concepts from the
      corpus before the rule runs), applies the rule
      ``count(p_i >= min_prob) > min_topics``, and folds the confusion
      counts in ONE distributed aggregate — exactly the reference's
      runAllConcepts + evaluate per call, minus the per-call
      re-inference its in-memory design needs;
    - warmup pins the EIGHT corners of the 3-D search box plus its
      center (deterministic; guarantees the reported best dominates
      every corner — forest_minimize's random starts only reach this
      in expectation), then TPE proposals condition on history:
      continuous ``min_probability`` and wide-integer ``min_doc_len``
      by KDE density ratio, small-integer ``min_topics`` by majority
      vote among the good trials.

    Returns one row per trial:
    [trial, min_probability, min_topics, min_doc_len, f1, is_best,
    ok_*].
    """
    import numpy as np

    p_lo, p_hi = prob_bounds
    t_lo, t_hi = topic_bounds
    l_lo, l_hi = len_bounds
    t_choices = list(range(t_lo, t_hi + 1))
    rng = np.random.RandomState(seed)

    base = _rule_base(scored, probs_col, gold_col, len_col)

    def kde_logpdf(x: float, pts: np.ndarray, span: float) -> float:
        bw = max(1.06 * (np.std(pts) or 0.0) * len(pts) ** -0.2, 0.05 * span)
        z = (x - pts) / bw
        return float(np.log(np.mean(np.exp(-0.5 * z * z)) / bw + 1e-12))

    def kde_pick(obs_good, obs_bad, lo, hi, as_int=False):
        good = np.array(obs_good)
        bad = np.array(obs_bad or [0.5 * (lo + hi)])
        cands = rng.uniform(lo, hi, size=n_candidates)
        span = hi - lo
        ei = [
            kde_logpdf(c, good, span) - kde_logpdf(c, bad, span)
            for c in cands
        ]
        v = float(cands[int(np.argmax(ei))])
        return int(round(v)) if as_int else v

    l_mid = (l_lo + l_hi) // 2
    warmup = [
        (p, t, l)
        for p in (p_lo, p_hi)
        for t in (t_lo, t_hi)
        for l in (l_lo, l_hi)
    ] + [(0.5 * (p_lo + p_hi), t_choices[len(t_choices) // 2], l_mid)]
    n_corners = 8
    # the warmup points are FIXED (corners + center — they condition
    # on nothing), so score them all in ONE distributed pass; the
    # proposals below go through the same scorer one point at a time.
    # Bit-identical to a serial per-point aggregate: both aggregate the
    # same integer tp/fp/fn and apply the same f1 formula
    # (tests/test_round13_ops.py pins batched == serial per point).
    wb = [(float(mp), int(mt), int(ml)) for mp, mt, ml in warmup]
    trials = [(*point, f1) for point, f1 in zip(wb, _rule_f1_batch(base, wb))]
    # the TPE proposals stay sequential BY CONSTRUCTION — each
    # conditions on every previous trial's score, so batching them
    # would change the proposal stream (the forest arm is the
    # batched-acquisition variant; this arm is the faithful
    # sequential one)
    for t in range(len(warmup), n_trials):
        obs = sorted(trials, key=lambda r: -r[3])
        n_good = max(1, int(round(gamma * len(obs))))
        mp = kde_pick(
            [r[0] for r in obs[:n_good]],
            [r[0] for r in obs[n_good:]], p_lo, p_hi,
        )
        ml = kde_pick(
            [r[2] for r in obs[:n_good]],
            [r[2] for r in obs[n_good:]], l_lo, l_hi, as_int=True,
        )
        good_ts = [r[1] for r in obs[:n_good]]
        mt = int(max(t_choices, key=lambda c: good_ts.count(c)))
        point = (float(mp), int(mt), int(ml))
        trials.append((*point, _rule_f1_batch(base, [point])[0]))

    best = max(r[3] for r in trials)
    corner_best = max(f1 for (*_, f1) in trials[:n_corners])
    spark = scored.sparkSession
    out = spark.createDataFrame(
        [
            (i + 1, round(mp, 6), mt, ml, round(f1, 6))
            for i, (mp, mt, ml, f1) in enumerate(trials)
        ],
        "trial int, min_probability double, min_topics int, "
        "min_doc_len int, f1 double",
    )
    # hard harness-enforced invariants: every trial scored inside the
    # reference's search box, valid F1, and the winner dominates all
    # eight corners of the box (warmup pins them, so a best below a
    # corner means the bookkeeping broke)
    return out.select(
        "trial", "min_probability", "min_topics", "min_doc_len", "f1",
        (F.col("f1") >= F.lit(round(best, 6))).alias("is_best"),
        F.lit(len(trials) == n_trials).alias("ok_trials_complete"),
        ((F.col("f1") >= 0) & (F.col("f1") <= 1)).alias("ok_f1_range"),
        (
            (F.col("min_probability") >= F.lit(p_lo))
            & (F.col("min_probability") <= F.lit(p_hi))
            & (F.col("min_topics") >= F.lit(t_lo))
            & (F.col("min_topics") <= F.lit(t_hi))
            & (F.col("min_doc_len") >= F.lit(l_lo))
            & (F.col("min_doc_len") <= F.lit(l_hi))
        ).alias("ok_in_box"),
        F.lit(round(best, 9) >= round(corner_best, 9)).alias(
            "ok_best_geq_corners"
        ),
    )


# ---------------------------------------------------------------------------
# Forest-surrogate EI search (round 9: closes the last documented
# deviation — the reference's skopt.forest_minimize semantics at its
# full 500-call budget, polysemous_words.py:29-30,271-281)
# ---------------------------------------------------------------------------

FOREST_N_CALLS = 500     # the reference's n_calls budget
FOREST_BATCH = 50        # proposals evaluated per distributed pass
FOREST_TREES = 32
FOREST_POOL = 256        # acquisition candidate pool per round


def _rule_base(
    scored: DataFrame, probs_col: str, gold_col: str, len_col: str
) -> DataFrame:
    """The three columns every rule arm scores, under the names
    :func:`_rule_f1_batch` reads. Not cached: the caller hands in a
    materialized ``scored`` (``q_rule_point_search`` checkpoints it once
    for all three arms), and a per-arm cache of the same plan would be
    one shared Spark cache entry that the first arm to finish evicts."""
    return scored.select(
        F.col(probs_col).alias("__probs"),
        F.col(gold_col).cast("boolean").alias("__gold"),
        F.col(len_col).cast("long").alias("__len"),
    )


def _rule_f1_batch(base: DataFrame, params: list[tuple]) -> list[float]:
    """Score a BATCH of rule operating points (one, for a sequential
    proposal) in ONE distributed pass: the (tiny) param relation
    broadcasts against the materialized per-doc arrays, each doc
    contributes its confusion cell to every admitted param, and one
    groupBy returns ≤ len(params) rows. 500 calls cost
    ~25 jobs instead of 500 — batch evaluation is how sequential
    model-based optimization maps onto a cluster (q-EI / constant-liar
    batching), and the surrogate only ever conditions on COMPLETED
    batches, exactly like skopt's n_points-per-ask mode."""
    # an inline VALUES table is a local relation: it broadcasts from the
    # driver with no job and no Python worker, unlike createDataFrame
    # over a list, which cost a single-point call about 0.35 s at sf0.1;
    # repr() plus the D suffix is an exact double literal
    values = ", ".join(
        f"({i}, {float(mp)!r}D, {int(mt)}, {int(ml)})"
        for i, (mp, mt, ml) in enumerate(params)
    )
    pdf = base.sparkSession.sql(
        f"SELECT * FROM VALUES {values} AS t(pid, mp, mt, ml)"
    )
    pred = (
        F.size(F.filter("__probs", lambda p: p >= F.col("mp")))
        > F.col("mt")
    )
    rows = (
        base.crossJoin(F.broadcast(pdf))
        .filter(F.col("__len") >= F.col("ml"))
        .groupBy("pid")
        .agg(
            F.sum((pred & F.col("__gold")).cast("long")).alias("tp"),
            F.sum((pred & ~F.col("__gold")).cast("long")).alias("fp"),
            F.sum((~pred & F.col("__gold")).cast("long")).alias("fn"),
        )
        .collect()
    )
    by_pid = {r["pid"]: r for r in rows}
    out = []
    for i in range(len(params)):
        r = by_pid.get(i)
        if r is None:  # the length gate admitted nothing
            out.append(0.0)
            continue
        tp, fp, fn = r["tp"] or 0, r["fp"] or 0, r["fn"] or 0
        out.append(2.0 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0)
    return out


def _extra_tree_fit(X, y, rng, depth: int = 6, min_leaf: int = 3):
    """One extremely-randomized regression tree (random feature +
    random threshold per split, mean-y leaves) as a nested-tuple —
    deterministic given the RandomState."""
    import numpy as np

    def build(idx, d):
        if d >= depth or len(idx) <= min_leaf:
            return float(np.mean(y[idx]))
        f = int(rng.randint(0, X.shape[1]))
        lo, hi = float(X[idx, f].min()), float(X[idx, f].max())
        if hi <= lo:
            return float(np.mean(y[idx]))
        thr = float(rng.uniform(lo, hi))
        left = idx[X[idx, f] <= thr]
        right = idx[X[idx, f] > thr]
        if len(left) == 0 or len(right) == 0:
            return float(np.mean(y[idx]))
        return (f, thr, build(left, d + 1), build(right, d + 1))

    import numpy as np

    return build(np.arange(len(y)), 0)


def _tree_predict(tree, Xc):
    import numpy as np

    out = np.empty(len(Xc))
    for i, x in enumerate(Xc):
        node = tree
        while isinstance(node, tuple):
            f, thr, l, r = node
            node = l if x[f] <= thr else r
        out[i] = node
    return out


def forest_ei_search(
    scored: DataFrame,
    n_calls: int = FOREST_N_CALLS,
    batch: int = FOREST_BATCH,
    prob_bounds: tuple = (0.05, 0.1),
    topic_bounds: tuple = (1, 5),
    len_bounds: tuple = (5, 500),
    probs_col: str = "topic_probs",
    gold_col: str = "gold",
    len_col: str = "doc_len",
    seed: int = SEED,
) -> dict:
    """The reference's ``forest_minimize`` semantics, Spark-shaped: a
    random-forest (extra-trees) regression surrogate over the observed
    trials with EXPECTED-IMPROVEMENT acquisition, spending the
    reference's full 500-call budget. Proposals come in batches of
    ``batch`` scored in one distributed pass each; warmup pins the 8
    box corners + center (so the winner provably dominates every
    corner) plus random fill to one batch.

    Returns {"best_f1", "best": (mp, mt, ml), "n_calls",
    "corner_best"} — deterministic given the seed."""
    import math

    import numpy as np

    rng = np.random.RandomState(seed)
    p_lo, p_hi = prob_bounds
    t_lo, t_hi = topic_bounds
    l_lo, l_hi = len_bounds
    span = np.array([p_hi - p_lo, t_hi - t_lo, l_hi - l_lo], dtype=float)
    lo = np.array([p_lo, t_lo, l_lo], dtype=float)

    base = _rule_base(scored, probs_col, gold_col, len_col)

    def draw(n):
        u = rng.uniform(size=(n, 3))
        pts = lo + u * span
        return [
            (float(p), int(round(t)), int(round(ln)))
            for p, t, ln in pts
        ]

    warmup = [
        (p, t, ln)
        for p in (p_lo, p_hi)
        for t in (t_lo, t_hi)
        for ln in (l_lo, l_hi)
    ] + [(0.5 * (p_lo + p_hi), (t_lo + t_hi) // 2, (l_lo + l_hi) // 2)]
    warmup = warmup + draw(max(0, batch - len(warmup)))

    X: list[tuple] = []
    y: list[float] = []
    y += _rule_f1_batch(base, warmup)
    X += warmup
    while len(X) < n_calls:
        b = min(batch, n_calls - len(X))
        Xn = (np.array(X, dtype=float) - lo) / span
        yn = np.array(y)
        trees = [
            _extra_tree_fit(Xn, yn, rng) for _ in range(FOREST_TREES)
        ]
        cand = draw(FOREST_POOL)
        Cn = (np.array(cand, dtype=float) - lo) / span
        preds = np.stack([_tree_predict(t, Cn) for t in trees])
        mu, sigma = preds.mean(axis=0), preds.std(axis=0) + 1e-9
        best = float(yn.max())
        z = (mu - best) / sigma
        cdf = 0.5 * (1.0 + np.vectorize(math.erf)(z / math.sqrt(2.0)))
        pdf = np.exp(-0.5 * z * z) / math.sqrt(2.0 * math.pi)
        ei = (mu - best) * cdf + sigma * pdf
        picks = np.argsort(-ei)[:b]  # top-b of the pool: q-EI-lite
        params = [cand[int(i)] for i in picks]
        y += _rule_f1_batch(base, params)
        X += params

    best_i = max(range(len(y)), key=lambda i: (y[i], -i))
    return {
        "best_f1": float(y[best_i]),
        "best": X[best_i],
        "n_calls": len(y),
        "corner_best": float(max(y[:8])),
    }


def random_search_baseline(
    scored: DataFrame,
    n_calls: int = FOREST_N_CALLS,
    batch: int = 125,
    prob_bounds: tuple = (0.05, 0.1),
    topic_bounds: tuple = (1, 5),
    len_bounds: tuple = (5, 500),
    probs_col: str = "topic_probs",
    gold_col: str = "gold",
    len_col: str = "doc_len",
    seed: int = SEED + 1,
) -> dict:
    """Equal-budget pure-random baseline for the surrogate comparison
    (an independent seed — the arms share nothing but the box)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    p_lo, p_hi = prob_bounds
    t_lo, t_hi = topic_bounds
    l_lo, l_hi = len_bounds
    base = _rule_base(scored, probs_col, gold_col, len_col)
    X: list[tuple] = []
    y: list[float] = []
    while len(X) < n_calls:
        b = min(batch, n_calls - len(X))
        params = [
            (
                float(rng.uniform(p_lo, p_hi)),
                int(rng.randint(t_lo, t_hi + 1)),
                int(rng.randint(l_lo, l_hi + 1)),
            )
            for _ in range(b)
        ]
        y += _rule_f1_batch(base, params)
        X += params
    best_i = max(range(len(y)), key=lambda i: (y[i], -i))
    return {
        "best_f1": float(y[best_i]),
        "best": X[best_i],
        "n_calls": len(y),
    }


# ---------------------------------------------------------------------------
# Round 13: the M22 MLP search arm (the reference's SECOND BayesSearchCV
# loop — runMLPClassifierBayesSearchCV, supervised_classifier.py:493-524:
# n_iter=30 over the 5-D MLP grid). Reuses the forest-EI machinery above
# over an encoded mixed categorical/continuous space; the objective is
# the distributed full-batch MLP of ml.mlp, which trains a whole q-EI
# proposal batch in one set of lockstep epochs (each epoch = ONE
# distributed gradient pass for ALL configs in the batch).
# ---------------------------------------------------------------------------


def _mlp_space_draw(rng, n):
    """n random configs over the reference's exact grid (categoricals
    uniform, alpha log-uniform in [1e-4, 0.9])."""
    import numpy as np

    from .mlp import (
        MLP_ACTIVATIONS, MLP_ALPHA_BOUNDS, MLP_HIDDEN, MLP_LEARNING_RATES,
        MLP_SOLVERS, MLPConfig,
    )

    lo, hi = np.log(MLP_ALPHA_BOUNDS[0]), np.log(MLP_ALPHA_BOUNDS[1])
    out = []
    for _ in range(n):
        out.append(MLPConfig(
            hidden=MLP_HIDDEN[rng.randint(len(MLP_HIDDEN))],
            activation=MLP_ACTIVATIONS[rng.randint(len(MLP_ACTIVATIONS))],
            solver=MLP_SOLVERS[rng.randint(len(MLP_SOLVERS))],
            learning_rate=MLP_LEARNING_RATES[
                rng.randint(len(MLP_LEARNING_RATES))],
            alpha=float(np.exp(rng.uniform(lo, hi))),
        ))
    return out


def _mlp_encode(cfg) -> list:
    """Numeric [0,1]^5 encoding of a config for the tree surrogate."""
    import numpy as np

    from .mlp import (
        MLP_ACTIVATIONS, MLP_ALPHA_BOUNDS, MLP_HIDDEN, MLP_LEARNING_RATES,
        MLP_SOLVERS,
    )

    lo, hi = np.log(MLP_ALPHA_BOUNDS[0]), np.log(MLP_ALPHA_BOUNDS[1])
    return [
        MLP_HIDDEN.index(cfg.hidden) / (len(MLP_HIDDEN) - 1),
        MLP_ACTIVATIONS.index(cfg.activation) / (len(MLP_ACTIVATIONS) - 1),
        MLP_SOLVERS.index(cfg.solver) / (len(MLP_SOLVERS) - 1),
        MLP_LEARNING_RATES.index(cfg.learning_rate)
        / (len(MLP_LEARNING_RATES) - 1),
        (np.log(cfg.alpha) - lo) / (hi - lo),
    ]


def adaptive_search_mlp(
    train: DataFrame,
    test: DataFrame,
    n_calls: int = 30,
    batch: int = 10,
    epochs: int = 15,
    n_pool: int = 256,
    seed: int = SEED,
    preblocks=None,
) -> DataFrame:
    """M22 closure (r12 verdict item 2): surrogate search over the
    reference's MLP grid at its exact n_iter=30 budget
    (supervised_classifier.py:493-524) — hidden sizes
    {(50,50,50),(50,100,50),(100,)}, activation × solver ×
    learning_rate categoricals, alpha log-uniform [1e-4, 0.9].

    Shape: forest-EI (the same extra-trees surrogate +
    expected-improvement acquisition as :func:`forest_ei_search`) over
    the [0,1]^5-encoded space, proposals in q-EI batches of ``batch``
    — the surrogate conditions on COMPLETED batches only, exactly like
    skopt's n_points-per-ask mode. Every batch trains ALL its configs
    simultaneously through ml.mlp's lockstep distributed full-batch
    trainer (one gradient pass per epoch for the whole batch) and
    scores them in one confusion pass, so the 30-call budget costs
    ~(n_calls/batch)·(epochs+1) distributed jobs, not
    30·epochs.

    A second EQUAL-BUDGET pure-random arm (independent seed, all 30
    configs as one training batch) anchors ``ok_best_geq_random``:
    conditioning on history must not do worse than blind sampling.
    Returns one row per EI-arm trial plus one summary row per arm.
    """
    import numpy as np

    from .mlp import mlp_blocks, score_mlp_batch, train_mlp_batch

    spark = train.sparkSession
    rng = np.random.RandomState(seed)
    # preblocks=((blocks, n, dim), (test_blocks, n_t, dim)) supplies the
    # session-shared cached numpy-block RDDs (ml.shared) so repeated
    # invocations (suite + driver + bench retimes) skip the conversion
    # pass; ownership stays with the cache in that case
    if preblocks is not None:
        (blocks, n_rows, dim), (test_blocks, _, _) = preblocks
    else:
        blocks, n_rows, dim = mlp_blocks(train)
        test_blocks, _, _ = mlp_blocks(test)

    def run_batch(configs):
        # seed index ties each config's init to its trial position so
        # re-running the search reproduces every fit exactly
        models = train_mlp_batch(blocks, n_rows, dim, configs,
                                 epochs=epochs)
        return score_mlp_batch(test_blocks, models, configs)

    X_obs: list = []     # encoded configs
    trials: list = []    # (cfg, f1), EI arm
    try:
        # batch 1 trains the EI arm's seeded warmup AND the whole
        # equal-budget random arm TOGETHER: none of those configs
        # conditions on history, so one lockstep set of passes serves
        # both arms (the random arm costs zero extra jobs, only extra
        # per-partition flops)
        warm = [
            c.__class__(**{**c.__dict__, "seed": i})
            for i, c in enumerate(_mlp_space_draw(rng, batch))
        ]
        rng2 = np.random.RandomState(seed + 1)
        rnd_cfgs = [
            c.__class__(**{**c.__dict__, "seed": 1000 + i})
            for i, c in enumerate(_mlp_space_draw(rng2, n_calls))
        ]
        joint = run_batch(warm + rnd_cfgs)
        rnd_f1s = joint[batch:]
        for cfg, f1 in zip(warm, joint[:batch]):
            trials.append((cfg, f1))
            X_obs.append(_mlp_encode(cfg))
        while len(trials) < n_calls:
            b = min(batch, n_calls - len(trials))
            Xn = np.array(X_obs)
            yn = np.array([f1 for _, f1 in trials])
            trees = [
                _extra_tree_fit(Xn, yn, rng)
                for _ in range(FOREST_TREES)
            ]
            pool = _mlp_space_draw(rng, n_pool)
            Cn = np.array([_mlp_encode(c) for c in pool])
            preds = np.stack([_tree_predict(t, Cn) for t in trees])
            mu, sigma = preds.mean(axis=0), preds.std(axis=0) + 1e-9
            best = float(yn.max())
            import math

            z = (mu - best) / sigma
            cdf = 0.5 * (
                1.0 + np.vectorize(math.erf)(z / math.sqrt(2.0))
            )
            pdf = np.exp(-0.5 * z * z) / math.sqrt(2.0 * math.pi)
            ei = (mu - best) * cdf + sigma * pdf
            cands = [pool[int(i)] for i in np.argsort(-ei)[:b]]
            cands = [
                c.__class__(**{**c.__dict__, "seed": len(trials) + i})
                for i, c in enumerate(cands)
            ]
            for cfg, f1 in zip(cands, run_batch(cands)):
                trials.append((cfg, f1))
                X_obs.append(_mlp_encode(cfg))
    finally:
        if preblocks is None:
            blocks.unpersist()
            test_blocks.unpersist()

    best_f1 = max(f1 for _, f1 in trials)
    rnd_best = max(rnd_f1s)
    rows = []
    for i, (cfg, f1) in enumerate(trials):
        rows.append((
            "forest_ei", i + 1,
            "-".join(str(h) for h in cfg.hidden), cfg.activation,
            cfg.solver, cfg.learning_rate, round(float(cfg.alpha), 8),
            round(float(f1), 6), bool(f1 >= best_f1),
        ))
    rb = rnd_f1s.index(rnd_best)
    rows.append((
        "random_best", n_calls,
        "-".join(str(h) for h in rnd_cfgs[rb].hidden),
        rnd_cfgs[rb].activation, rnd_cfgs[rb].solver,
        rnd_cfgs[rb].learning_rate, round(float(rnd_cfgs[rb].alpha), 8),
        round(float(rnd_best), 6), False,
    ))
    out = spark.createDataFrame(
        rows,
        "arm string, trial int, hidden string, activation string, "
        "solver string, learning_rate string, alpha double, f1 double, "
        "is_best boolean",
    )
    return (
        out.withColumn(
            "ok_budget_exact", F.lit(len(trials) == n_calls)
        )
        .withColumn(
            "ok_f1_range", (F.col("f1") >= 0) & (F.col("f1") <= 1)
        )
        .withColumn(
            "ok_best_geq_random",
            F.lit(round(best_f1, 9) >= round(rnd_best, 9)),
        )
        .withColumn(
            "ok_in_grid",
            F.col("hidden").isin("50-50-50", "50-100-50", "100")
            & F.col("activation").isin(
                "tanh", "relu", "logistic", "identity")
            & F.col("solver").isin("sgd", "adam", "lbfgs")
            & F.col("learning_rate").isin(
                "constant", "adaptive", "invscaling")
            & (F.col("alpha") >= 1e-4) & (F.col("alpha") <= 0.9),
        )
    )
