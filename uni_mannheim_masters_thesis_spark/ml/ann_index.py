"""Persisted IVF ANN index in the lakehouse (round-9: connects the ANN
family to the table layer — reference has no analogue; this is the
§2.11 serving-index shape).

The IVF artifacts stop being per-query throwaways and live as
VERSIONED lakehouse tables (sources/lakehouse.py):

- ``centroids`` — (cell, centroid) : the k trained cell centers,
  integer-quantized coordinates (the engine-portable Lloyd contract of
  ml/cluster.py: floor(x*1e4) int64, min-vec_id seeds, floor-div
  updates, argmin ties to the smaller cell).
- ``postings`` — (cell, n_vectors, postings) : one row per cell, the
  inverted list as a sorted array of (vec_id, qv) entries.

Build = CREATE from the initial corpus half (even vec_ids); refresh =
the odd half assigned to the SAME centroids and MERGEd per cell
(copy-on-write — only touched cells' buckets rewrite), so the index
history is time-travelable: version 1 is the pre-refresh index, the
latest version serves. Queries read ONLY the persisted tables — probe
vectors come out of the postings themselves, candidate cells are a
bounded driver list feeding a bucket-pruned ``read_table(point_keys=
cells)`` — never the raw embeddings parquet (inputFiles plan-tested).

At 100 TB: a cell's posting list becomes (cell, page) keyed rows
(still unique keys, still bucket-prunable) instead of one array; the
routing, versioning, and refresh semantics are unchanged. Scoring is
exact integer L2 in the quantized space — the same all-integer ranking
discipline that makes embedding_kmeans/pq_encode hash-exact.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

IVF_K = 8        # cells
IVF_ITERS = 2    # Lloyd iterations (the embedding_kmeans contract)
IVF_NPROBE = 2   # cells searched per probe
IVF_TOPK = 5
IVF_N_PROBES = 5  # probe panel: vec_id < 5


def int_sq_dist(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 — summation-order-free (integers)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _postings_rows(quant: DataFrame, centroids) -> DataFrame:
    """(cell, n_vectors, postings) — vectors assigned to their nearest
    centroid, posting arrays sorted by vec_id (deterministic layout)."""
    from .cluster import _assigned

    return (
        _assigned(quant, centroids)
        .groupBy(F.col("cid").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sort_array(
                F.collect_list(F.struct(F.col("vec_id"), F.col("qv")))
            ).alias("postings"),
        )
    )


def build_ivf_index(
    spark: SparkSession, embeddings: DataFrame, index_dir: str
) -> None:
    """CREATE the index from the even-vec_id corpus half, then REFRESH
    it with the odd half (same centroids, per-cell MERGE) — two
    versions in the postings table's history."""
    from ..sources.lakehouse import create_table
    from .cluster import lloyd_centroids, quantize_vectors

    quant = quantize_vectors(embeddings).localCheckpoint(
        eager=True
    )  # feeds training + two assignment passes
    initial = quant.filter(F.col("vec_id") % 2 == 0)
    centroids = lloyd_centroids(initial, k=IVF_K, iters=IVF_ITERS)

    cent_df = spark.createDataFrame(
        [(cid, [int(v) for v in vec]) for cid, vec in centroids],
        "cell int, centroid array<bigint>",
    )
    create_table(cent_df, os.path.join(index_dir, "centroids"), "cell")

    post_dir = os.path.join(index_dir, "postings")
    create_table(_postings_rows(initial, centroids), post_dir, "cell")
    delta = _postings_rows(
        quant.filter(F.col("vec_id") % 2 == 1), centroids
    )
    refresh_ivf_postings(spark, post_dir, delta)


def refresh_ivf_postings(
    spark: SparkSession, post_dir: str, delta: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Fold a new batch's per-cell posting rows into the stored index:
    bucket-pruned read of ONLY the touched cells' current rows, array
    union, one-row-per-cell MERGE (copy-on-write).

    With ``batch_id`` the refresh is EXACTLY-ONCE under streaming
    replay: the id rides the commit's manifest note (atomic with the
    data, the streaming-sink recipe), and a batch at or below the last
    committed id is skipped — a foreachBatch replay after a crash
    neither duplicates postings nor mints phantom versions. Returns
    the (possibly unchanged) latest version."""
    from ..sources.lakehouse import (
        last_committed_note, latest_version, merge_table, read_table,
    )

    if batch_id is not None:
        last = last_committed_note(post_dir).get("batch_id")
        if last is not None and batch_id <= last:
            return latest_version(post_dir)  # replayed batch
    delta = delta.localCheckpoint(eager=True)  # cells + join + merge
    cells = sorted(
        r["cell"] for r in delta.select("cell").distinct().collect()
    )  # ≤ IVF_K values — bounded driver list
    current = read_table(spark, post_dir, point_keys=cells).select(
        "cell",
        F.col("n_vectors").alias("__old_n"),
        F.col("postings").alias("__old_p"),
    )
    empty = F.expr(
        "CAST(array() AS array<struct<vec_id:bigint,qv:array<bigint>>>)"
    )
    combined = (
        delta.join(current, "cell", "left")
        .select(
            "cell",
            (
                F.col("n_vectors") + F.coalesce(F.col("__old_n"), F.lit(0))
            ).alias("n_vectors"),
            F.sort_array(
                F.concat(
                    F.coalesce(F.col("__old_p"), empty), F.col("postings")
                )
            ).alias("postings"),
        )
        .withColumn("__delete", F.lit(False))
    )
    note = None if batch_id is None else {"batch_id": int(batch_id)}
    return merge_table(
        spark, post_dir, combined, "cell", "__delete", note=note
    )


def index_summary(
    spark: SparkSession, index_dir: str
) -> DataFrame:
    """Per-cell build evidence read OFF DISK: the initial (version-1,
    time-traveled) and current posting counts plus the stored
    centroid's md5 — one row per cell."""
    from ..sources.lakehouse import read_table

    post_dir = os.path.join(index_dir, "postings")
    v1 = read_table(spark, post_dir, version=1).select(
        "cell", F.col("n_vectors").alias("n_vectors_initial")
    )
    cur = read_table(spark, post_dir).select(
        "cell", F.col("n_vectors").alias("n_vectors_current")
    )
    cent = read_table(
        spark, os.path.join(index_dir, "centroids")
    ).select(
        "cell",
        F.md5(
            F.concat_ws(
                ",", F.transform("centroid", lambda v: v.cast("string"))
            )
        ).alias("centroid_md5"),
    )
    return (
        cent.join(v1, "cell", "left")
        .join(cur, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_vectors_initial", F.lit(0)).alias(
                "n_vectors_initial"
            ),
            F.coalesce("n_vectors_current", F.lit(0)).alias(
                "n_vectors_current"
            ),
            "centroid_md5",
        )
    )


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    n_probe: int = IVF_NPROBE,
    topk: int = IVF_TOPK,
) -> DataFrame:
    """Serve ANN from the PERSISTED index only: probe vectors come out
    of the postings table, candidate cells out of the centroids table,
    and the candidate scan is a bucket-pruned point read of exactly
    the probed cells. Returns (probe_id, neighbor_id, d_q) — exact
    integer L2 rank within the probed cells, ties to the smaller id."""
    from ..sources.lakehouse import read_table

    post_dir = os.path.join(index_dir, "postings")
    all_posts = read_table(spark, post_dir)
    probes = (
        all_posts.select(F.explode("postings").alias("p"))
        .select(
            F.col("p.vec_id").alias("probe_id"),
            F.col("p.qv").alias("pqv"),
        )
        .filter(F.col("probe_id") < IVF_N_PROBES)
    )
    cents = read_table(spark, os.path.join(index_dir, "centroids"))
    wc = Window.partitionBy("probe_id").orderBy("cell_dist", "cell")
    probe_cells = (
        probes.crossJoin(F.broadcast(cents))
        .withColumn(
            "cell_dist", int_sq_dist(F.col("pqv"), F.col("centroid"))
        )
        .withColumn("__cr", F.row_number().over(wc))
        .filter(F.col("__cr") <= n_probe)
        .select("probe_id", "pqv", "cell")
        .localCheckpoint(eager=True)  # feeds the cell list + the join
    )
    cells = sorted(
        r["cell"]
        for r in probe_cells.select("cell").distinct().collect()
    )  # bounded: ≤ min(IVF_K, n_probes * n_probe) values
    cand = (
        read_table(spark, post_dir, point_keys=cells)
        .filter(F.col("cell").isin(cells))
        .select("cell", F.explode("postings").alias("p"))
        .select(
            "cell",
            F.col("p.vec_id").alias("neighbor_id"),
            F.col("p.qv").alias("nqv"),
        )
    )
    scored = (
        probe_cells.join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("d_q", int_sq_dist(F.col("pqv"), F.col("nqv")))
    )
    w = Window.partitionBy("probe_id").orderBy("d_q", "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= topk)
        .select("probe_id", "neighbor_id", F.col("d_q").cast("long"))
    )


def delete_vectors(
    spark: SparkSession, post_dir: str, vec_ids: list[int]
) -> int:
    """GDPR-style deletion from the SERVING index: remove the given
    vectors from their posting lists with a per-cell copy-on-write
    MERGE — only the cells that actually hold a deleted vector
    rewrite; a cell emptied entirely tombstones out of the snapshot.
    Returns the new version. Older versions still contain the vectors
    (time travel is the audit trail); pair with the lakehouse vacuum
    for physical erasure, exactly like the row-level GDPR purge."""
    from ..sources.lakehouse import merge_table, read_table

    ids = sorted(set(int(v) for v in vec_ids))
    id_arr = F.array(*[F.lit(v).cast("long") for v in ids])
    # a cell is touched iff any deleted id appears in its CURRENT
    # postings; only those cells become CDC rows
    current = read_table(spark, post_dir)
    touched = (
        current.filter(
            F.arrays_overlap(
                F.transform("postings", lambda p: p["vec_id"]), id_arr
            )
        )
        .select(
            "cell",
            F.filter(
                "postings", lambda p: ~p["vec_id"].isin(ids)
            ).alias("postings"),
        )
        .select(
            "cell",
            F.size("postings").cast("long").alias("n_vectors"),
            "postings",
            (F.size("postings") == 0).alias("__delete"),
        )
    )
    return merge_table(spark, post_dir, touched, "cell", "__delete")


def stream_ivf_index(
    spark: SparkSession,
    embeddings: DataFrame,
    work_dir: str,
    n_slices: int = 4,
) -> dict:
    """Streaming index maintenance, exactly-once: CREATE the index
    from the even-vec_id half, then REPLAY the odd half as
    ``n_slices`` file-drop micro-batches (``maxFilesPerTrigger=1``)
    whose ``foreachBatch`` assigns each batch to the STORED centroids
    and folds it in via the batch_id-watermarked refresh — one table
    version per non-empty batch, replays skipped transactionally (the
    streaming-lakehouse-sink contract, applied to the serving index).

    Because refreshes union per-cell posting sets, the final state is
    arrival-order independent and must equal the one-shot build. The
    returned evidence dict carries batch/version counts and a LIVE
    replay proof (batch 0 re-applied; the version must not move)."""
    import glob
    import shutil
    import time

    from ..scratch import query_dir
    from ..session import ensure_engine_confs
    from ..sources.lakehouse import create_table, latest_version
    from ..streaming.runtime import run_to_end
    from .cluster import lloyd_centroids, quantize_vectors

    ensure_engine_confs(spark)
    quant = quantize_vectors(embeddings).localCheckpoint(eager=True)
    initial = quant.filter(F.col("vec_id") % 2 == 0)
    centroids = lloyd_centroids(initial, k=IVF_K, iters=IVF_ITERS)
    index_dir = os.path.join(work_dir, "index")
    cent_df = spark.createDataFrame(
        [(cid, [int(v) for v in vec]) for cid, vec in centroids],
        "cell int, centroid array<bigint>",
    )
    create_table(cent_df, os.path.join(index_dir, "centroids"), "cell")
    post_dir = os.path.join(index_dir, "postings")
    create_table(_postings_rows(initial, centroids), post_dir, "cell")

    # the odd half as n deterministic vec_id-sliced file drops with
    # strictly increasing mtimes (FileStreamSource orders by mtime)
    slices = os.path.join(work_dir, "slices")
    os.makedirs(slices, exist_ok=True)
    odd = embeddings.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding"
    )
    t0 = time.time() - 2 * n_slices
    for i in range(n_slices):
        with query_dir("umt_annslice_") as staging:
            (
                odd.filter((F.col("vec_id") / 2).cast("long") % n_slices == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(staging)
            )
            parts = glob.glob(os.path.join(staging, "part-*.parquet"))
            if parts:
                dest = os.path.join(slices, f"batch_{i:02d}.parquet")
                shutil.move(parts[0], dest)
                os.utime(dest, (t0 + i, t0 + i))

    static = spark.read.parquet(slices)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(slices)
    )
    state = {"n_data_batches": 0}

    def _apply(batch: DataFrame, batch_id: int) -> None:
        delta = _postings_rows(quantize_vectors(batch), centroids)
        if delta.isEmpty():
            return
        refresh_ivf_postings(spark, post_dir, delta, batch_id=batch_id)
        state["n_data_batches"] += 1

    run_to_end(spark, stream.writeStream.foreachBatch(_apply), "ann_stream")

    # LIVE replay proof: re-apply batch 0's delta under its original
    # batch_id — the watermark must skip it without minting a version
    v_before = latest_version(post_dir)
    first = spark.read.parquet(os.path.join(slices, "batch_00.parquet"))
    replay_delta = _postings_rows(quantize_vectors(first), centroids)
    refresh_ivf_postings(spark, post_dir, replay_delta, batch_id=0)
    return {
        "n_data_batches": state["n_data_batches"],
        "n_versions": latest_version(post_dir),
        "replay_skipped": latest_version(post_dir) == v_before,
    }
