"""Faithful distributed resampling (reference M20 SMOTE / M21 Tomek links,
``supervised_classifier.py:578-584,619-624,722-723``).

The reference calls imblearn's in-memory ``SMOTE`` / ``TomekLinks``.
Those are kNN algorithms, so the distributed design is a neighbor join:

- **SMOTE** (`smote`): per minority point, find its k nearest
  same-class neighbors, then synthesize points on the connecting
  segments: ``x_new = x + u * (x_nn - x)`` with ``u ∈ (0,1)`` drawn from
  a seeded hash (deterministic, resume-safe — no ``rand()`` in the
  plan). The interpolation is ``zip_with`` over array columns —
  JVM-side, no UDF. Neighbor search is brute-force within the minority
  class (the minority class is small *relative to the dataset* by
  definition; it broadcasts) — at 100 TB the size-dispatched
  ``knn_within(method='auto')`` measures the build side first and
  switches to the exact blocked distributed kernel when it exceeds the
  broadcast budget, so an oversized minority class degrades to a
  distributed plan instead of a driver OOM; ``method='lsh'`` remains
  the sub-quadratic approximate escape hatch.
- **Tomek links** (`tomek_links` / `remove_tomek_links`): a Tomek pair
  is a *mutual* 1-NN pair with different labels; the cleaning rule
  drops the majority-class member. 1-NN across the full table is the
  same neighbor join; mutuality is a self-join of the 1-NN relation on
  ``(a,b)==(b,a)``.

Both return DataFrames and never loop over rows on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import dispatch

SEED = 42


def _sq_dist(a, b):
    """Shared HOF kernel — see functions.similarity.sq_dist."""
    from ..functions.similarity import sq_dist

    return sq_dist(a, b)


def _dense_matrix_bytes(df: DataFrame, vec_col: str) -> int:
    """Estimated bytes of ``df`` as a dense float64 matrix — one
    column-pruned aggregate job (count × max vector width × 8)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).first()
    return (row["n"] or 0) * (row["d"] or 0) * 8


def knn_within(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """k nearest same-set neighbors by squared euclidean distance.

    Returns DataFrame[id, nn_id, dist, nn_rank(1..k)]. Deterministic
    tie-break on neighbor id.

    ``method='auto'`` (default): size-dispatched — estimates the dense
    build-side bytes (count × dim × 8, one aggregate job) and takes the
    'numpy' broadcast path only when it fits ``dispatch.DENSE_BYTES``;
    otherwise the 'blocked' distributed kernel. Both are EXACT with the
    same deterministic (dist, id) tie-break, so dispatch never changes
    results — only the plan. A caller handing in a table too big to
    broadcast gets a distributed plan, not a driver OOM.
    ``method='numpy'``: the comparison side is broadcast as a dense
    matrix (exactly like the build side of a broadcast hash join) and
    each Arrow batch of probes computes distances with one BLAS matmul
    — ~50× the HOF join on wide vectors. Requires the table to fit the
    broadcast budget (a kNN *within one class* usually does — SMOTE's
    minority-broadcast contract).
    ``method='blocked'``: exact distributed all-pairs BLAS with bounded
    per-task memory — no collect, no broadcast (see
    :func:`_knn_within_blocked`).
    ``method='lsh'``: bucketed-LSH candidate generation + exact re-rank
    (``operators.similarity_search.lsh_ann``) — the sub-quadratic
    100 TB path when approximate recall is acceptable.
    ``method='join'``: pure-DataFrame O(n²) pair join, no numpy — the
    semantics reference.
    """
    if method == "join":
        return _knn_within_join(df, k, id_col, vec_col)
    if method == "lsh":
        return _knn_within_lsh(df, k, id_col, vec_col)
    if method == "blocked":
        return _knn_within_blocked(df, k, id_col, vec_col)
    if method == "auto":
        if not dispatch.fits_driver(_dense_matrix_bytes(df, vec_col)):
            return _knn_within_blocked(df, k, id_col, vec_col)
        return _knn_within_numpy(df, k, id_col, vec_col)
    return _knn_within_numpy(df, k, id_col, vec_col)


def _knn_within_blocked(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT distributed kNN with bounded per-task memory: blocked
    all-pairs BLAS.

    Rows hash into ``n_blocks`` blocks; every (probe-block i,
    corpus-block j) pair is one ``applyInPandas`` group that computes a
    block-local top-k with a single matmul; a final window merges the
    per-block candidates into the global top-k. Shuffle volume is
    2·n·n_blocks rows (each row visits n_blocks groups) and no task ever
    holds more than two blocks — no driver-side collect, no full-table
    broadcast, exact results. Compute is inherently O(n²) (that is what
    exact all-pairs means); size ``n_blocks`` so a block fits executor
    memory and scale out, or switch to 'lsh' when approximate recall is
    acceptable.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    grid = spark.range(n_blocks).select(F.col("id").alias("__g"))
    probes = (
        base.withColumn("__gi", F.pmod(F.xxhash64("id"), F.lit(n_blocks)))
        .crossJoin(F.broadcast(grid.select(F.col("__g").alias("__gj"))))
        .withColumn("__role", F.lit(0))
    )
    corpus = (
        base.withColumn("__gj", F.pmod(F.xxhash64("id"), F.lit(n_blocks)))
        .crossJoin(F.broadcast(grid.select(F.col("__g").alias("__gi"))))
        .withColumn("__role", F.lit(1))
    )
    tagged = probes.unionByName(corpus)
    kk = k

    def block_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf[pdf["__role"] == 0]
        c = pdf[pdf["__role"] == 1]
        if p.empty or c.empty:
            return pd.DataFrame({"id": [], "nn_id": [], "dist": []})
        P = np.stack(p["v"].to_numpy())
        C = np.stack(c["v"].to_numpy())
        pid = np.asarray(p["id"], dtype=np.int64)
        cid = np.asarray(c["id"], dtype=np.int64)
        d2 = (
            (P * P).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2.0 * (P @ C.T)
        )
        out_id, out_nn, out_d = [], [], []
        for i in range(len(pid)):
            drow = np.maximum(d2[i], 0.0)
            mask = cid != pid[i]
            ids_m, d_m = cid[mask], drow[mask]
            order = np.lexsort((ids_m, d_m))[:kk]
            out_id.extend([pid[i]] * len(order))
            out_nn.extend(ids_m[order].tolist())
            out_d.extend(d_m[order].tolist())
        return pd.DataFrame({"id": out_id, "nn_id": out_nn, "dist": out_d})

    partial = tagged.groupBy("__gi", "__gj").applyInPandas(
        lambda key, pdf: block_knn(pdf), "id long, nn_id long, dist double"
    )
    w = Window.partitionBy("id").orderBy("dist", "nn_id")
    return (
        partial.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("id", "nn_id", "dist", "nn_rank")
    )


def _knn_within_lsh(
    df: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    bucket_length: float = 5.0,
    num_hash_tables: int = 6,
) -> DataFrame:
    """Scale path: random-projection LSH buckets generate candidates
    (bucket equi-join, never a cross product), exact squared-euclidean
    re-rank on the candidate set only. ``bucket_length``/
    ``num_hash_tables`` are sized for high 1-NN recall: wider buckets +
    more tables raise recall at the cost of candidate volume."""
    from ..operators.similarity_search import lsh_ann

    nn = lsh_ann(
        df,
        df,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        bucket_length=bucket_length,
        num_hash_tables=num_hash_tables,
    )
    return nn.select(
        F.col("probe_id").alias("id"),
        F.col("neighbor_id").alias("nn_id"),
        (F.col("eucl_dist") * F.col("eucl_dist")).alias("dist"),
    ).withColumn(
        "nn_rank",
        F.row_number().over(Window.partitionBy("id").orderBy("dist", "nn_id")),
    )


def _knn_within_join(df: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    a = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("va"))
    b = df.select(F.col(id_col).alias("nn_id"), F.col(vec_col).cast("array<double>").alias("vb"))
    pairs = (
        a.join(F.broadcast(b), F.col("id") != F.col("nn_id"))
        .withColumn("dist", _sq_dist(F.col("va"), F.col("vb")))
    )
    w = Window.partitionBy("id").orderBy("dist", "nn_id")
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("id", "nn_id", "dist", "nn_rank")
    )


def _knn_within_numpy(df: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    corpus = base.toPandas()  # the broadcast build side (class-local, small)
    ids = np.asarray(corpus["id"], dtype=np.int64)
    mat = np.stack(corpus["v"].to_numpy())  # (n, d) float64
    sq_norms = (mat * mat).sum(axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, sq_norms))
    kk = k

    def batches(it):
        b_ids, b_mat, b_sq = bc.value
        for pdf in it:
            pv = np.stack(pdf["v"].to_numpy())  # (m, d)
            pid = np.asarray(pdf["id"], dtype=np.int64)
            # d2 = |p|^2 + |c|^2 - 2 p.c  — one BLAS matmul per batch
            d2 = (pv * pv).sum(axis=1)[:, None] + b_sq[None, :] - 2.0 * (pv @ b_mat.T)
            out_id, out_nn, out_d, out_r = [], [], [], []
            for i in range(len(pid)):
                drow = d2[i]
                mask = b_ids != pid[i]
                cand_ids = b_ids[mask]
                cand_d = np.maximum(drow[mask], 0.0)
                # deterministic (dist, id) order
                order = np.lexsort((cand_ids, cand_d))[:kk]
                out_id.extend([pid[i]] * len(order))
                out_nn.extend(cand_ids[order].tolist())
                out_d.extend(cand_d[order].tolist())
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"id": out_id, "nn_id": out_nn, "dist": out_d, "nn_rank": out_r}
            )

    return base.mapInPandas(
        batches, "id long, nn_id long, dist double, nn_rank int"
    )


def _dense_index(
    df: DataFrame, id_col: str, seed: int = SEED, n_buckets: int = 32
) -> DataFrame:
    """Deterministic dense 1..n index (column ``__pr``) with NO global
    sort: hash rows into ``n_buckets``, row_number within each bucket
    (``n_buckets`` parallel window partitions), then add cumulative
    bucket offsets (computed from an O(n_buckets) aggregate and joined
    back broadcast). Equivalent to a global rank by
    (bucket, hash, id) — a permutation, which is all a quota/index
    assignment needs."""
    bucketed = df.withColumn(
        "__b", F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(n_buckets))
    )
    w = Window.partitionBy("__b").orderBy(
        F.xxhash64(F.col(id_col), F.lit(seed + 1)), F.col(id_col)
    )
    local = bucketed.withColumn("__lr", F.row_number().over(w))
    counts = sorted(
        (r["__b"], r["n"])
        for r in local.groupBy("__b").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__b long, __off long")
    return (
        local.join(F.broadcast(off_df), "__b")
        .withColumn("__pr", (F.col("__lr") + F.col("__off")).cast("int"))
        .drop("__b", "__lr", "__off")
    )


def smote(
    df: DataFrame,
    label_col: str = "label",
    minority_label=1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    seed: int = SEED,
) -> DataFrame:
    """M20: oversample the minority class to parity with synthetic
    interpolated points. Synthetic rows get negative ids (original ids
    are assumed non-negative) and carry the minority label.
    """
    counts = {
        r[label_col]: r["n"]
        for r in df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = counts.get(minority_label, 0)
    n_maj = max((n for lbl, n in counts.items() if lbl != minority_label), default=0)
    shortfall = n_maj - n_min
    if shortfall <= 0 or n_min < 2:  # <2: no neighbor segment to interpolate
        return df

    minority = df.filter(F.col(label_col) == minority_label)
    # Per-point quotas: point i synthesizes q_i points with
    # sum(q_i) == shortfall exactly (base = shortfall // n_min, the first
    # `shortfall % n_min` points take one extra). Edges come from the
    # point's k nearest neighbors; when a point's quota exceeds its k
    # available edges the edges are REUSED with a different seeded `u`
    # per repetition (imblearn's resample-with-replacement equivalent),
    # so parity is reached for ANY shortfall, not just small ones.
    k_eff = min(max(k, -(-shortfall // n_min)), n_min - 1)
    per_point_max = -(-shortfall // n_min)  # = max possible quota (base+1)
    reps = -(-per_point_max // k_eff)
    nn = knn_within(minority, k=k_eff, id_col=id_col, vec_col=vec_col)

    base_q, rem = divmod(shortfall, n_min)
    # the quota only needs a stable dense 1..n_min index, not a global
    # sort: rank within hash buckets (parallel windows), then shift by
    # per-bucket offsets (a bucket-count aggregate — O(n_buckets) rows on
    # the driver, never the data). No single-partition Exchange anywhere.
    quotas = _dense_index(
        minority.select(F.col(id_col).alias("id")), "id", seed=seed
    ).withColumn(
        "__quota",
        F.lit(base_q) + F.when(F.col("__pr") <= rem, 1).otherwise(0),
    )

    base = minority.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("va"),
    )
    nvec = minority.select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    )
    # u ∈ (0,1) from a seeded hash of (pair, repetition) — deterministic plan
    u = (
        F.pmod(F.xxhash64("id", "nn_id", "__rep", F.lit(seed)), F.lit(1_000_000)) + 0.5
    ) / 1_000_000.0
    cand = (
        nn.join(F.broadcast(quotas), "id")
        .withColumn("__rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .withColumn("__edge", F.col("__rep") * k_eff + F.col("nn_rank"))
        .filter(F.col("__edge") <= F.col("__quota"))
        .join(base, "id")
        .join(F.broadcast(nvec), "nn_id")
        .withColumn("u", u)
        .withColumn(
            "synthetic",
            F.zip_with("va", "vb", lambda x, y: x + F.col("u") * (y - x)),
        )
    )
    synth = cand.select(
        # unique negative id per synthetic row, no global edge window
        (-((F.col("__pr") - 1) * F.lit(k_eff * reps) + F.col("__edge")))
        .cast("long")
        .alias(id_col),
        F.col("synthetic").cast(df.schema[vec_col].dataType).alias(vec_col),
        F.lit(minority_label).cast(df.schema[label_col].dataType).alias(label_col),
    )
    return df.select(id_col, vec_col, label_col).unionByName(synth)


def tomek_links(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
) -> DataFrame:
    """M21: mutual 1-NN pairs with different labels.

    Returns DataFrame[id_a, id_b, label_a, label_b] with id_a < id_b
    (each link once).

    Unlike SMOTE (whose kNN runs within the small minority class and may
    broadcast), Tomek's 1-NN runs over the FULL table, so the default is
    the blocked exact kNN — distributed all-pairs BLAS with bounded
    per-task memory, EXACT links, no driver-side collect and no
    full-table broadcast. Pass ``method='lsh'`` for approximate
    sub-quadratic candidates on data with real neighborhood structure,
    or ``method='numpy'`` as the opt-in small-data fast path.
    """
    nn1 = knn_within(
        df, k=1, id_col=id_col, vec_col=vec_col, method=method
    ).select("id", "nn_id")
    labels = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("lbl"))
    fwd = nn1
    rev = nn1.select(F.col("id").alias("nn_id"), F.col("nn_id").alias("id"))
    mutual = fwd.join(rev, ["id", "nn_id"]).filter(F.col("id") < F.col("nn_id"))
    return (
        mutual.join(labels, "id")
        .withColumnRenamed("lbl", "label_a")
        .join(labels.select(F.col("id").alias("nn_id"), F.col("lbl").alias("label_b")), "nn_id")
        .filter(F.col("label_a") != F.col("label_b"))
        .select(
            F.col("id").alias("id_a"),
            F.col("nn_id").alias("id_b"),
            "label_a",
            "label_b",
        )
    )


def remove_tomek_links(
    df: DataFrame,
    label_col: str = "label",
    majority_label=0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "blocked",
) -> DataFrame:
    """M21 cleaning rule: drop the majority-class member of every Tomek
    link (imblearn ``TomekLinks`` with ``sampling_strategy='majority'``).
    """
    links = tomek_links(
        df, label_col=label_col, id_col=id_col, vec_col=vec_col, method=method
    )
    drop_a = links.filter(F.col("label_a") == majority_label).select(
        F.col("id_a").alias(id_col)
    )
    drop_b = links.filter(F.col("label_b") == majority_label).select(
        F.col("id_b").alias(id_col)
    )
    to_drop = drop_a.unionByName(drop_b).distinct()
    return df.join(F.broadcast(to_drop), id_col, "left_anti")
