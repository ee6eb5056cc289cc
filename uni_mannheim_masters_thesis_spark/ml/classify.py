"""Supervised-classifier battery (reference ``supervised_classifier.py``).

Maps the reference's sklearn pipeline (M5-M24) to MLlib:

- feature extraction M5 (``getTrainVecs``, supervised_classifier.py:159-183):
  topic-distribution vector + optional doc-length feature → VectorAssembler.
- scaling M19 (StandardScaler fit on train only,
  supervised_classifier.py:586-589).
- splits M17 (80/20 seed 42, supervised_classifier.py:576) and
  stratified k-fold M18 (supervised_classifier.py:629-691): fold =
  row_number within label (ordered by a seeded hash) mod k — fully
  distributed, no driver loop over rows.
- the classifier battery M6-M16 in MLlib-native form; modified-Huber
  (M8) is the REAL loss via deterministic full-batch GD
  (ModifiedHuberGD); kernel-SVM (M9) maps to LinearSVC (+ the RFF
  variant in ml.kernel), kNN (M14) to LSH (documented deviations,
  SURVEY §2.8).
- resampling M20/M21: class-weight column (the distributed-safe
  default) + sampleBy over/undersampling variants.
- evaluation M23 (binary F1) via the same A4/A5 confusion-matrix
  aggregations the rule path uses.

Everything is DataFrame-in/DataFrame-out; the only driver-side loop is
over folds/models (small), never over rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    GBTClassifier,
    LinearSVC,
    LogisticRegression,
    MultilayerPerceptronClassifier,
    NaiveBayes,
    RandomForestClassifier,
)
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import dispatch
from ..operators.evaluation import classification_metrics, confusion_matrix

SEED = 42  # reference uses random_state=42 throughout


def assemble_features(
    df: DataFrame,
    topic_col: str = "topicDistribution",
    length_col: str | None = "doc_len",
    out_col: str = "features",
) -> DataFrame:
    """M5: topic vector (+ length feature if ADD_LENGTH_FEATURE)."""
    cols = [topic_col] + ([length_col] if length_col else [])
    va = VectorAssembler(inputCols=cols, outputCol=out_col)
    return va.transform(df)


def scale_features(
    train: DataFrame, test: DataFrame, in_col: str = "features"
) -> tuple[DataFrame, DataFrame]:
    """M19: StandardScaler fit on train, applied to both splits."""
    scaler = StandardScaler(
        inputCol=in_col, outputCol=f"{in_col}_scaled", withMean=True, withStd=True
    )
    model = scaler.fit(train)
    return model.transform(train), model.transform(test)


def train_test_split(
    df: DataFrame, test_frac: float = 0.2, seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    """M17: randomSplit 80/20 (reference seed 42)."""
    train, test = df.randomSplit([1.0 - test_frac, test_frac], seed=seed)
    return train, test


def add_stratified_fold(
    df: DataFrame, k: int = 10, label_col: str = "label", id_col: str = "doc_id",
    seed: int = SEED,
) -> DataFrame:
    """M18: stratified k-fold assignment as a column — per-label
    row_number (ordered by a seeded hash for shuffling) mod k. Each fold
    gets an equal share of every class; assignment is deterministic
    given the seed and fully distributed (one window shuffle)."""
    w = Window.partitionBy(label_col).orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
    return df.withColumn("fold", ((F.row_number().over(w) - 1) % k).cast("int"))


def add_hash_fold(df: DataFrame, k: int = 10, id_col: str = "doc_id") -> DataFrame:
    """Engine-portable deterministic fold assignment: fold =
    int(md5(id)[:8], 16) % k. Unlike M18's per-label window, this needs
    NO shuffle at all (pure map) — the 100 TB-scale default; stratification
    is approximate but converges by the law of large numbers."""
    hashed = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return df.withColumn("fold", (hashed.cast("long") % k).cast("int"))


def add_class_weights(df: DataFrame, label_col: str = "label") -> DataFrame:
    """'balanced' class weights (reference class_weight='balanced'):
    w(c) = n_total / (n_classes * n_c), computed distributedly and
    broadcast-joined back."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_c"))
    n_classes = counts.count()
    total = df.count()
    weights = counts.select(
        label_col, (F.lit(total) / (F.lit(n_classes) * F.col("n_c"))).alias("weight")
    )
    return df.join(F.broadcast(weights), label_col)


def oversample_minority(
    df: DataFrame, label_col: str = "label", seed: int = SEED
) -> DataFrame:
    """M20 fallback: per-class sampleBy oversampling to near-balance
    (faithful SMOTE interpolation is the LSH-kNN variant; this is the
    shippable distributed default, documented deviation)."""
    counts = {r[label_col]: r["cnt"] for r in
              df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt")).collect()}
    if not counts:
        return df
    majority = max(counts.values())
    extra = []
    for lbl, cnt in counts.items():
        if cnt < majority:
            frac = (majority - cnt) / cnt
            sampled = df.filter(F.col(label_col) == lbl)
            # sample with replacement to synthesize the shortfall
            extra.append(sampled.sample(withReplacement=True, fraction=frac, seed=seed))
    out = df
    for e in extra:
        out = out.unionByName(e)
    return out


def undersample_majority(
    df: DataFrame, label_col: str = "label", seed: int = SEED
) -> DataFrame:
    """M21 fallback: downsample majority classes to the minority size
    (Tomek-links pair-dropping is the LSH variant; same deviation note)."""
    counts = {r[label_col]: r["cnt"] for r in
              df.groupBy(label_col).agg(F.count(F.lit(1)).alias("cnt")).collect()}
    if not counts:
        return df
    minority = min(counts.values())
    fractions = {lbl: min(1.0, minority / cnt) for lbl, cnt in counts.items()}
    return df.sampleBy(label_col, fractions, seed=seed)


@dataclass(frozen=True)
class ModelSpec:
    name: str
    estimator: object
    survey: str


class _ModifiedHuberModel:
    """Fitted linear model: prediction = 1.0 iff w·x + b > 0."""

    def __init__(self, weights: list, bias: float,
                 features_col: str, label_col: str):
        self.weights, self.bias = list(weights), float(bias)
        self._features_col, self._label_col = features_col, label_col

    def transform(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import vector_to_array

        x = vector_to_array(F.col(self._features_col))
        score = sum(
            (F.element_at(x, j + 1) * F.lit(wj) for j, wj in enumerate(self.weights)),
            F.lit(self.bias),
        )
        return df.withColumn(
            "prediction", (score > 0).cast("double")
        )


class ModifiedHuberGD:
    """M8: linear classifier under the MODIFIED-HUBER loss (Zhang 2004;
    sklearn ``SGDClassifier(loss='modified_huber')``,
    supervised_classifier.py's SGD battery member) — previously a
    documented LinearSVC stand-in, now the real loss.

    With z = y·(w·x + b), y ∈ {−1, +1}:
        L(z) = max(0, 1 − z)²   for z ≥ −1
             = −4z              for z < −1
    — the quadratically-smoothed hinge with a LINEAR tail, so outliers
    get a bounded gradient (−4) instead of the squared-hinge's
    unbounded pull; that outlier tolerance is the loss's entire point
    and exactly what a hinge/logistic swap can't reproduce.

    Optimization is deterministic FULL-BATCH gradient descent, not
    row-order SGD: each iteration is ONE distributed aggregation
    (d + 1 partial-aggregated sums over the cached scaled training
    frame) folded into a driver-side parameter update — the
    rule_point_search / MLlib-treeAggregate shape, so the loop costs
    iterations × one job and shuffles d+1 doubles per partition
    regardless of corpus size. sklearn's sequential per-row updates
    cannot be replayed on a cluster (each step depends on the previous
    row); full-batch GD on the same convex objective is the
    distributed-native equivalent, converging to the same minimizer
    modulo step-size schedule (documented in SURVEY §2.8).
    """

    def __init__(self, featuresCol: str = "features", labelCol: str = "label",
                 maxIter: int = 30, step: float = 0.5, regParam: float = 0.01):
        self._features_col, self._label_col = featuresCol, labelCol
        self._max_iter, self._step, self._reg = maxIter, step, regParam

    def fit(self, df: DataFrame) -> _ModifiedHuberModel:
        from pyspark.ml.functions import vector_to_array

        base = df.select(
            (2.0 * F.col(self._label_col) - 1.0).alias("y"),
            vector_to_array(F.col(self._features_col)).alias("x"),
        ).persist()  # each GD iteration re-aggregates this projection;
        # without the persist every iteration would replay the upstream
        # feature lineage (LDA inference + scaling) from scratch
        first = base.first()
        if first is None:
            raise ValueError("empty training frame")
        d = len(first["x"])
        n = base.count()  # also settles upstream caches
        # Size-dispatched local iteration loop (r13, guide §1.2): each
        # distributed GD iteration embeds the CURRENT weights as
        # literals, so Catalyst re-analyzes, re-optimizes and
        # re-compiles the (d+1)-column aggregate on EVERY pass — at
        # bench scale ~10 s of the fit is driver-side planning/codegen
        # for 30 sub-100 ms jobs. When the projection is ONE partition
        # and fits a bounded collect, run the same 30 iterations on the
        # driver with an op-for-op replica of the SQL fold
        # (_fit_single_partition_local) — BIT-IDENTICAL weights, pinned
        # differentially in tests/test_dispatch.py. Above the
        # dispatch.DENSE_BYTES budget or multi-partition (the 100 TB
        # shape) the distributed loop below runs unchanged.
        if base.rdd.getNumPartitions() == 1 and dispatch.fits_driver(
            n * (d + 1) * 8
        ):
            data = base.collect()
            base.unpersist()
            return self._fit_single_partition_local(data, d, n)
        # size the task count to the DATA, not the session default: the
        # loop schedules maxIter jobs over base's partitions, so 30
        # iterations x 32 near-empty tasks is pure scheduler overhead
        # at small n, while at 100 TB the same rule (one partition per
        # ~50k rows) yields thousands of parallel tasks. Re-persist the
        # coalesced projection (reads the already-persisted rows once)
        # and release the wide one.
        target_parts = max(1, int(n // 50_000) + (1 if n % 50_000 else 0))
        if base.rdd.getNumPartitions() > 4 * target_parts:
            slim = base.coalesce(target_parts).persist()
            slim.count()
            base.unpersist()
            base = slim
        w, b = [0.0] * d, 0.0
        for t in range(self._max_iter):
            wx = sum(
                (F.element_at("x", j + 1) * F.lit(wj) for j, wj in enumerate(w)),
                F.lit(b),
            )
            z = F.col("y") * wx
            dldz = (
                F.when(z < -1.0, F.lit(-4.0))
                .when(z < 1.0, -2.0 * (1.0 - z))
                .otherwise(F.lit(0.0))
            )
            row = (
                base.select("x", (dldz * F.col("y")).alias("c"))
                .agg(
                    F.sum("c").alias("gb"),
                    *[
                        F.sum(F.col("c") * F.element_at("x", j + 1)).alias(f"g{j}")
                        for j in range(d)
                    ],
                )
                .first()
            )
            step = self._step / (1.0 + 0.02 * t)
            gb = row["gb"] / n
            w = [
                wj - step * (row[f"g{j}"] / n + self._reg * wj)
                for j, wj in enumerate(w)
            ]
            b -= step * gb
        base.unpersist()
        return _ModifiedHuberModel(w, b, self._features_col, self._label_col)

    def _fit_single_partition_local(
        self, rows, d: int, n: int
    ) -> _ModifiedHuberModel:
        """Driver-side replica of the distributed GD loop for a
        SINGLE-partition projection — float math identical op-for-op:

        - the score is the same left fold ``(((b + x0·w0) + x1·w1) + …``
          (``wx`` starts at ``b`` and accumulates one ``X[:,j]·w[j]``
          term per step, exactly the nested Add tree the SQL expression
          builds);
        - ``dldz``/``c`` use the same branch expressions and operand
          order;
        - each aggregate replays Spark's Sum semantics (first value
          initializes the accumulator, then a left fold in row order —
          one partition means ONE fold, no merge) via an explicit row
          loop, never ``np.sum`` (pairwise summation would change the
          fold shape);
        - the parameter updates are the identical driver-side Python
          expressions.

        All numpy ops are IEEE-754 binary64, the same arithmetic the
        codegen'd Java expressions execute."""
        import numpy as np

        X = np.array([r["x"] for r in rows], dtype=np.float64)
        y = np.array([r["y"] for r in rows], dtype=np.float64)
        w, b = [0.0] * d, 0.0
        for t in range(self._max_iter):
            wx = np.full(len(y), b, dtype=np.float64)
            for j in range(d):
                wx = wx + X[:, j] * w[j]
            z = y * wx
            dldz = np.where(
                z < -1.0, -4.0,
                np.where(z < 1.0, -2.0 * (1.0 - z), 0.0),
            )
            c = dldz * y
            cx = c[:, None] * X
            gb = None
            g = None
            for i in range(len(y)):
                ci = float(c[i])
                gb = ci if gb is None else gb + ci
                g = cx[i].copy() if g is None else g + cx[i]
            step = self._step / (1.0 + 0.02 * t)
            gb = gb / n
            w = [
                wj - step * (float(g[j]) / n + self._reg * wj)
                for j, wj in enumerate(w)
            ]
            b -= step * gb
        return _ModifiedHuberModel(w, b, self._features_col, self._label_col)


def classifier_battery(
    features_col: str = "features", label_col: str = "label", seed: int = SEED
) -> list[ModelSpec]:
    """The M6-M16 battery in MLlib-native order (SURVEY §7.1 M4).

    Deviations (documented in SURVEY §2.8): M7 SGD-log-loss ≡ M6
    LogisticRegression (solver is not semantics); M9 kernel SVM →
    LinearSVC (+ Random-Fourier-Features in ml.kernel); M14 kNN lives
    in operators.similarity_search (LSH). M8 modified-Huber is the
    REAL loss since round 10 (ModifiedHuberGD, full-batch GD).
    """
    common = dict(featuresCol=features_col, labelCol=label_col)
    # iteration budgets: every maxIter is a SERIAL distributed pass
    # (one treeAggregate job per iteration for the linear models, one
    # tree per iteration for GBT), so the budgets below are chosen at
    # the convergence knee — tol-based early stopping still applies
    return [
        ModelSpec("logistic_regression", LogisticRegression(
            maxIter=25, regParam=0.1, weightCol="weight", **common), "M6/M7"),
        ModelSpec("linear_svc", LinearSVC(maxIter=20, regParam=0.1, **common), "M9/M11"),
        # 30 full-batch iterations sit past the convergence knee on the
        # scaled features (F1 flat from ~20 onward, measured at sf0.1)
        ModelSpec("modified_huber_sgd", ModifiedHuberGD(
            maxIter=30, step=0.5, regParam=0.01, **common), "M8"),
        ModelSpec("gaussian_nb", NaiveBayes(modelType="gaussian", **common), "M10"),
        ModelSpec("decision_tree", DecisionTreeClassifier(seed=seed, **common), "M15"),
        ModelSpec("random_forest", RandomForestClassifier(
            numTrees=100, seed=seed, **common), "M12"),
        ModelSpec("gbt", GBTClassifier(maxIter=10, seed=seed, **common), "M13"),
    ]


def mlp_spec(n_features: int, features_col: str = "features",
             label_col: str = "label", seed: int = SEED) -> ModelSpec:
    """M16: MLP with the reference's (140,140,140) hidden layers
    (supervised_classifier.py:471-490)."""
    return ModelSpec(
        "mlp",
        MultilayerPerceptronClassifier(
            layers=[n_features, 140, 140, 140, 2],
            seed=seed,
            maxIter=30,
            featuresCol=features_col,
            labelCol=label_col,
        ),
        "M16",
    )


def evaluate_binary(predictions: DataFrame, label_col: str = "label",
                    pred_col: str = "prediction") -> DataFrame:
    """M23/A4/A5: one-row P/R/Acc/F1 from a scored DataFrame."""
    cm = confusion_matrix(
        predictions, pred=F.col(pred_col) == 1.0, gold=F.col(label_col) == 1.0
    )
    return classification_metrics(cm)


def attach_eval_invariants(report: DataFrame, n_col: str | None = "n") -> DataFrame:
    """Stamp hard ``ok_*`` invariant columns onto an evaluation report.

    Rows-only queries can't be hash-compared against an oracle (the
    model fit is seed/implementation-sensitive), but their OUTPUT still
    obeys exact contracts: the confusion counts must cover the whole
    scored set and every derived metric is a valid rate. The local
    harness fails a rows-only query if any ``ok_*`` column holds a
    False (SURVEY §5.2-3).
    """
    counts = F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn")
    ok_counts = (
        counts == F.col(n_col)
        if n_col and n_col in report.columns
        else counts > 0
    )
    in_unit = [
        (F.col(c) >= 0) & (F.col(c) <= 1)
        for c in ("precision", "recall", "accuracy", "f1")
    ]
    rng = in_unit[0]
    for c in in_unit[1:]:
        rng = rng & c
    return report.withColumn("ok_counts", ok_counts).withColumn(
        "ok_metric_range", rng
    )


def run_battery(
    train: DataFrame,
    test: DataFrame,
    include_mlp: bool = False,
    n_features: int | None = None,
    f1_floor: float | None = None,
) -> DataFrame:
    """Fit every battery model on train, score on test, return one row
    per model: [model, tp, fp, tn, fn, precision, recall, accuracy, f1].

    The models are independent given the cached train/test frames, so
    the fits run CONCURRENTLY from a small thread pool: each MLlib fit
    is a chain of short distributed jobs that leaves most of the
    cluster idle between stages (driver round-trips, tiny stages at
    this data size), and overlapping 4 fits fills those gaps without
    changing any result (separate estimator objects, fixed seeds,
    output order pinned by spec order). On a 1000-executor cluster the
    same overlap is how one keeps a model-battery from serializing on
    driver latency — this is CrossValidator's own ``parallelism``
    pattern applied across heterogeneous estimators.
    """
    specs = classifier_battery()
    if include_mlp and n_features:
        specs = specs + [mlp_spec(n_features)]
    weighted = add_class_weights(train)
    # settle the caches with one pass each BEFORE the concurrent fits so
    # parallel first-touch doesn't duplicate the upstream computation
    train.count()
    n_test = test.count()

    def one(spec: ModelSpec):
        fit_on = weighted if spec.name == "logistic_regression" else train
        model = spec.estimator.fit(fit_on)
        scored = model.transform(test)
        # one aggregated row per model — materialize the scalars now so
        # the report is a local relation (consumers don't re-trigger the
        # transform+aggregate chain per read)
        r = evaluate_binary(scored).first()
        return (spec.name, n_test, r["tp"], r["fp"], r["tn"], r["fn"],
                r["precision"], r["recall"], r["accuracy"], r["f1"])

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(specs)) as ex:
        rows = list(ex.map(one, specs))
    spark = train.sparkSession
    report = spark.createDataFrame(
        rows,
        "model string, n_test long, tp long, fp long, tn long, fn long, "
        "precision double, recall double, accuracy double, f1 double",
    )
    report = attach_eval_invariants(report, n_col="n_test")
    if f1_floor is not None:
        # per-model F1 lower bound on a known-separable task: a silent
        # regression in featurization, scaling, class weighting, or any
        # single fit drags its model to ~chance (F1 ~ 0.5) — far below
        # the floor — and fails the rows-only harness check
        report = report.withColumn(
            "ok_f1_floor", F.col("f1") >= F.lit(float(f1_floor))
        )
    return report


def run_battery_member(
    train: DataFrame,
    test: DataFrame,
    member: str,
    f1_floor: float | None = None,
) -> DataFrame:
    """Fit ONE battery model and return its single-row report —
    identical fit/score/evaluate path as :func:`run_battery` (same
    estimator params, same seed, same class-weighting rule), exposed
    per-model so each registry entry's bench wall tracks exactly one
    fit's plan instead of the whole battery's end-of-sequence memory
    pressure (round-11 verdict item 1).
    """
    specs = {s.name: s for s in classifier_battery()}
    if member not in specs:
        raise KeyError(
            f"unknown battery member {member!r}; have {sorted(specs)}"
        )
    spec = specs[member]
    fit_on = (
        add_class_weights(train)
        if spec.name == "logistic_regression"
        else train
    )
    n_test = test.count()
    model = spec.estimator.fit(fit_on)
    r = evaluate_binary(model.transform(test)).first()
    spark = train.sparkSession
    report = spark.createDataFrame(
        [(spec.name, n_test, r["tp"], r["fp"], r["tn"], r["fn"],
          r["precision"], r["recall"], r["accuracy"], r["f1"])],
        "model string, n_test long, tp long, fp long, tn long, fn long, "
        "precision double, recall double, accuracy double, f1 double",
    )
    report = attach_eval_invariants(report, n_col="n_test")
    if f1_floor is not None:
        report = report.withColumn(
            "ok_f1_floor", F.col("f1") >= F.lit(float(f1_floor))
        )
    return report
