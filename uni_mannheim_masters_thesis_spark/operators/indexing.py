"""Distributed ordered dense-rank assignment (no global-sort window).

A bare ``row_number().over(Window.orderBy(col))`` funnels every row
through ONE window partition on one executor (Spark logs
``WindowExec: No Partition Defined``) — fine for a bounded vocabulary,
a scale-killer at 100 TB corpus vocab. This module provides the same
semantics in the classic two-phase shape:

1. ``repartitionByRange`` on the order column — ranges are globally
   ordered across partitions, so partition i's keys all sort before
   partition j's for i < j;
2. ``row_number`` *within* each range partition (N parallel window
   groups instead of 1);
3. cumulative partition offsets from an O(num_partitions) aggregate,
   broadcast-joined back.

The result is bit-identical to ``ROW_NUMBER() OVER (ORDER BY col)``
for unique keys, which is what the DuckDB oracle runs.

Sibling of the unordered variant ``ml/resample._dense_index`` (hash
buckets — a permutation, not a sort order), kept separate because
quota assignment there must NOT pay the range shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from . import dispatch


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a ``localCheckpoint``-ed frame
    once a downstream checkpoint has materialized (r13 ADVICE: the
    above-budget rank path otherwise holds TWO full copies — the size-
    probe snapshot plus the range-partitioned checkpoint — in executor
    storage for the rest of the lineage's life). Reaches the
    checkpointed LogicalRDD's underlying RDD via py4j; any surface
    change degrades to a no-op (the blocks then age out with the
    session — exactly the pre-fix behavior).

    Precondition: call this only after a downstream EAGER checkpoint
    of every frame derived from ``df`` has materialized. A local
    checkpoint has no lineage to recompute from, so any later read of
    ``df`` itself (or of a lazy frame over it) fails with "checkpoint
    block not found". Nothing here checks the ordering; both current
    call sites release strictly after their dependent eager
    checkpoint."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def _nan_free_key(v):
    """Driver-sort key matching Spark's orderings for the key types the
    rank/prefix contracts allow (unique, non-null): Row is a tuple
    subclass → struct keys compare fieldwise; str comparison is
    code-point order == UTF8String byte order. NULLs and NaNs order
    differently in Python than Spark's null-first/NaN-last — raise
    TypeError so the caller falls back to the distributed path."""
    if v is None:
        raise TypeError("null key")
    if isinstance(v, float) and v != v:
        raise TypeError("NaN key")
    if isinstance(v, tuple):
        return tuple(_nan_free_key(x) for x in v)
    return v


def ordered_dense_rank(
    df: DataFrame, order_col: str, rank_col: str = "rank", n_parts: int = 32,
    local_ok: bool = True,
) -> DataFrame:
    """Append 1-based ``rank_col`` = global rank of ``order_col``.

    Keys must be unique (vocabulary terms, manifest paths, …); with
    duplicates the tie-break within a range partition is undefined.

    Key sets within ``dispatch.RANK_KEYS`` rows (100k —
    vocab/manifest/per-customer frames at bench scale are a few
    thousand; the r14 10× crossover probe put driver sort + mapping
    broadcast ≈ the range-shuffle path at ~100-120k long keys and
    earlier for struct keys, so the budget sits at the measured
    crossover) rank via a DRIVER-side sort + broadcast mapping instead:
    the rank of a unique key under a total order is a pure function of
    the key SET, so the two paths return identical rows, and the range
    shuffle + per-call double lineage evaluation (repartitionByRange's
    boundary-sampling pass) + checkpoint + counts-collect + window
    collapse to one materialization and a broadcast hash join. Python's
    tuple/str comparison matches Spark's struct/UTF8String orderings
    (UTF-8 byte order equals code-point order) for the unique numeric/
    string keys the contract allows. Above the budget the two-phase
    distributed shape runs unchanged — the 100 TB path.

    ``local_ok=False`` keeps a call on the distributed path at any
    size: the two paths emit the same ROWS but different output
    partitioning/row order, so a caller whose downstream aggregates
    raw doubles (order-sensitive float summation) pins the shape its
    committed values were produced under (A/B evidence: rfm_segments'
    avg_monetary moved 1 ulp at sf0.1 under the local path; every
    other consumer is row-identical).
    """
    budget = dispatch.RANK_KEYS
    if budget > 0 and local_ok:
        # one materialization of the input (the distributed path pays
        # this too, via repartitionByRange sampling + shuffle); the
        # size probe and the key collect are ONE bounded job
        snap = df.localCheckpoint(eager=True)
        keys = dispatch.bounded_collect(snap.select(order_col), budget)
        if keys is not None:
            try:
                ordered = sorted(_nan_free_key(r[0]) for r in keys)
            except TypeError:
                ordered = None
            # duplicate-key guard (r13 ADVICE): the broadcast-mapping
            # join fans out duplicate keys (each dup row would get
            # every tied rank), whereas the distributed path keeps row
            # count with merely undefined tie order — so an
            # out-of-contract caller falls back instead of silently
            # changing cardinality
            if ordered is not None and any(
                a == b for a, b in zip(ordered, ordered[1:])
            ):
                ordered = None
        else:
            ordered = None
        if ordered is not None:
            spark = df.sparkSession
            key_type = snap.schema[order_col].dataType
            mapping = spark.createDataFrame(
                [(k, i) for i, k in enumerate(ordered, start=1)],
                StructType(
                    [
                        StructField(order_col, key_type),
                        StructField(rank_col, LongType()),
                    ]
                ),
            )
            return snap.join(F.broadcast(mapping), order_col).select(
                *df.columns, rank_col
            )
        df = _snap_to_release = snap  # materialized; reuse for the shuffle
    else:
        _snap_to_release = None
    # MATERIALIZE the range partitioning exactly once before anything
    # reads it. repartitionByRange picks its boundaries by reservoir-
    # sampling with a seed derived from per-execution RDD ids, so two
    # separate jobs over the same *unmaterialized* plan can sample
    # DIFFERENT boundaries once partitions outgrow the sample reservoir
    # — the collected counts would then disagree with the partitions the
    # window ranks, duplicating/skipping global ids at exactly the
    # corpus scale this operator exists for. localCheckpoint(eager=True)
    # freezes the shuffled partitions (executor memory+disk), so the
    # counts job and the rank job read identical data. Trade-off: the
    # truncated lineage means lost-executor recovery rereads from the
    # checkpoint replica, not the source — acceptable for the bounded
    # (vocab/manifest-sized) frames this ranks.
    ranged = (
        df.repartitionByRange(n_parts, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    if _snap_to_release is not None:
        # ranged now holds the data; drop the size-probe snapshot's
        # duplicate executor blocks (r13 ADVICE)
        _release_local_checkpoint(_snap_to_release)
    # per-partition counts: num_partitions rows — driver-bounded
    counts = sorted(
        (r["__pid"], r["n"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = df.sparkSession.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(order_col)
    return (
        ranged.withColumn("__lr", F.row_number().over(w))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, (F.col("__lr") + F.col("__off")).cast("long"))
        .drop("__pid", "__lr", "__off")
    )


def rank_bounded(
    df: DataFrame,
    order_cols: list[tuple[str, str]],
    rank_col: str = "rank",
) -> DataFrame:
    """1-based total-order rank of a BOUNDED relation with NO window.

    For a relation already known to hold at most k rows (a top-k
    result, a fused candidate list), ``row_number().over(
    Window.orderBy(...))`` is semantically fine but still logs
    ``WindowExec: No Partition Defined`` — warning noise that masks
    a *real* global-window regression elsewhere (the repo's bench
    logs treat any such warning as a defect). This ranks via a
    broadcast self-join counting strict predecessors instead:
    O(k²) comparisons, trivial for top-k lists, zero warnings, and
    fully lazy (no driver collect).

    ``order_cols`` is ``[(col, "asc"|"desc"), ...]``; the combined
    key must be a total order (put a unique tiebreaker last),
    otherwise tied rows receive equal ranks with gaps undefined.
    """
    keys = [c for c, _ in order_cols]
    right = df.select([F.col(c).alias(f"__rk_{c}") for c in keys])
    # "r strictly precedes l": lexicographic OR-of-ANDs over the keys
    prec = F.lit(False)
    eq_prefix = F.lit(True)
    for c, direction in order_cols:
        rc, lc = F.col(f"__rk_{c}"), F.col(c)
        strict = (rc > lc) if direction == "desc" else (rc < lc)
        prec = prec | (eq_prefix & strict)
        eq_prefix = eq_prefix & (rc == lc)
    joined = df.join(F.broadcast(right), prec, "left")
    return joined.groupBy(*[F.col(c) for c in df.columns]).agg(
        (F.count(F.col(f"__rk_{keys[0]}")) + 1).cast("int").alias(rank_col)
    )


def ordered_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_cols: list[str],
    prefix: str = "ps_",
    n_parts: int = 32,
) -> DataFrame:
    """Append EXCLUSIVE running sums of ``val_cols`` under the global
    ``order_col`` order (``prefix + c`` = sum of c over all rows with a
    strictly smaller key) — the distributed scan primitive behind
    rank-sum statistics (AUC), ECDFs, and quantile boundaries.

    Same two-phase texture as :func:`ordered_dense_rank` (range
    partition → per-partition window → O(n_parts) driver-cumulated
    offsets broadcast back), with the same requirements: keys unique,
    values integral (longs sum exactly, so the result is
    order-independent; float prefix sums would drift with the range
    boundaries). Replaces both the single-partition
    ``Window.orderBy`` (one-executor funnel, banned package-wide) and
    the O(k²) triangular self-join (fine for dozens of cells, ~10 s by
    a few thousand).

    Same local dispatch as :func:`ordered_dense_rank`: key sets within
    ``dispatch.RANK_KEYS`` prefix-sum on the driver (exact Python-int
    accumulation over the same strictly-smaller-key order) and
    broadcast the mapping back — identical longs, minus the range
    shuffle, double lineage evaluation and window. The null/duplicate
    contract check is enforced identically on both paths.
    """
    budget = dispatch.RANK_KEYS
    _snap_to_release = None
    if budget > 0:
        snap = df.localCheckpoint(eager=True)
        rows = dispatch.bounded_collect(
            snap.select(order_col, *val_cols), budget
        )
        if rows is not None:
            keys = [r[0] for r in rows]
            n_null = sum(1 for k in keys if k is None)
            seen: set = set()
            try:
                for k in keys:
                    if k is not None:
                        seen.add(k)
                n_dup = (len(keys) - n_null) - len(seen)
            except TypeError:  # unhashable key type — let Spark handle
                n_dup, seen = 0, None
            if n_null or n_dup:
                raise ValueError(
                    f"ordered_prefix_sum: order_col {order_col!r} must "
                    f"be a non-null total order; found {n_null} NULL "
                    f"and {n_dup} duplicate key(s)"
                )
            if seen is not None:
                try:
                    ordered = sorted(
                        rows,
                        key=lambda r: _nan_free_key(r[0]),
                    )
                except TypeError:
                    ordered = None
                if ordered is not None:
                    # value-integrality guard (r13 ADVICE): the local
                    # fold accumulates exact Python ints, which only
                    # matches the distributed path (native sum, running
                    # total cast to long) when every value IS integral —
                    # a fractional or NaN value falls back to the
                    # distributed path instead of silently truncating
                    # per-row (int(0.5) + int(0.5) = 0 vs cast(1.0) = 1)
                    try:
                        for r in ordered:
                            for v in list(r)[1:]:
                                if v is not None and int(v) != v:
                                    raise TypeError("non-integral value")
                    except (TypeError, ValueError, OverflowError):
                        ordered = None
                if ordered is not None:
                    spark = df.sparkSession
                    acc = [0] * len(val_cols)
                    out_rows = []
                    for r in ordered:
                        out_rows.append((r[0], *acc))
                        acc = [
                            a + int(v or 0)
                            for a, v in zip(acc, list(r)[1:])
                        ]
                    key_type = snap.schema[order_col].dataType
                    fields = [StructField(order_col, key_type)] + [
                        StructField(prefix + c, LongType())
                        for c in val_cols
                    ]
                    mapping = spark.createDataFrame(
                        out_rows, StructType(fields)
                    )
                    return snap.join(
                        F.broadcast(mapping), order_col
                    ).select(
                        *df.columns, *[prefix + c for c in val_cols]
                    )
        df = _snap_to_release = snap
    ranged = (
        df.repartitionByRange(n_parts, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # freeze sampled range boundaries
    )
    if _snap_to_release is not None:
        # ranged now holds the data; drop the size-probe snapshot's
        # duplicate executor blocks (r13 ADVICE)
        _release_local_checkpoint(_snap_to_release)
    # contract check rides the totals pass for free: range partitioning
    # co-locates equal keys, so summed per-partition distinct counts ==
    # global distinct, and any NULL/duplicate key (which would make the
    # rowsBetween(-1) window disagree with strictly-smaller semantics)
    # is caught before a wrong prefix can escape
    stat_rows = (
        ranged.groupBy("__pid")
        .agg(
            *[F.sum(c).cast("long").alias(f"__t_{c}") for c in val_cols],
            F.count(F.lit(1)).alias("__n"),
            F.count(order_col).alias("__nn"),
            F.count_distinct(order_col).alias("__nd"),
        )
        .collect()
    )
    n_null = sum(r["__n"] - r["__nn"] for r in stat_rows)
    n_dup = sum(r["__nn"] - r["__nd"] for r in stat_rows)
    if n_null or n_dup:
        raise ValueError(
            f"ordered_prefix_sum: order_col {order_col!r} must be a "
            f"non-null total order; found {n_null} NULL and {n_dup} "
            "duplicate key(s)"
        )
    totals = sorted(
        (r["__pid"], tuple(r[f"__t_{c}"] for c in val_cols))
        for r in stat_rows
    )
    offsets, acc = [], [0] * len(val_cols)
    for pid, tots in totals:
        offsets.append((pid, *acc))
        acc = [a + (t or 0) for a, t in zip(acc, tots)]
    schema = "__pid int, " + ", ".join(
        f"__off_{c} long" for c in val_cols
    )
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, *[0] * len(val_cols))], schema
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = ranged
    for c in val_cols:
        out = out.withColumn(
            f"__lp_{c}", F.coalesce(F.sum(c).over(w), F.lit(0)).cast("long")
        )
    out = out.join(F.broadcast(off_df), "__pid")
    for c in val_cols:
        out = out.withColumn(
            prefix + c, (F.col(f"__lp_{c}") + F.col(f"__off_{c}")).cast("long")
        ).drop(f"__lp_{c}", f"__off_{c}")
    return out.drop("__pid")
