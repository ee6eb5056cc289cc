"""Size dispatch: the one place that decides driver-local vs distributed.

Each dataflow step with a driver-side fast path (both paths return
identical rows, or the site falls back) decides through this module:
a ROW budget via :func:`bounded_collect`, a BYTE budget via
:func:`fits_driver`. The budgets are the measured crossovers
(``SCALING.md``, round-14 budget rows), not deployment knobs; callers
read them at call time, so a test forces either path with
``monkeypatch.setattr`` on this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

#: keys ``ordered_dense_rank`` / ``ordered_prefix_sum`` sort on the driver
RANK_KEYS = 100_000
#: edges ``connected_components`` and the near-dup PageRank resolve on it
GRAPH_EDGES = 200_000
#: bytes of a dense float64 matrix it may collect or broadcast (Huber
#: GD's local loop, the MLP config-parallel trainer, the kNN numpy path)
DENSE_BYTES = 64 << 20


def bounded_collect(df: DataFrame, max_rows: int) -> list[Row] | None:
    """``df``'s rows if it holds at most ``max_rows`` of them, else None.

    One job at any size: ONE task reads until ``max_rows + 1`` rows. A
    plain ``limit(n).collect()`` scans partitions in waves of 1, 4,
    16, ... (a job each) whenever fewer than n rows exist, i.e. on
    every local path. Pass a materialized frame (checkpoint or cache),
    or the single task also runs its narrow upstream work. A budget of
    0 returns None without a job."""
    if max_rows <= 0:
        return None
    rows = df.coalesce(1).limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def fits_driver(n_bytes: int) -> bool:
    """True when a dense matrix of ``n_bytes`` fits :data:`DENSE_BYTES`."""
    return n_bytes <= DENSE_BYTES


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a one-split scan across the cluster before a
    CPU-dense row-local stage. Test-scale tables are ONE parquet file
    = one input partition, which serializes per-row expression work
    (rolling-hash windows, ×100 bootstrap fan-outs, simhash folds) on
    a single core; at 100 TB the scan already yields a partition per
    ~128 MB split and this branch never fires. Callers apply it only
    where every downstream consumer is row-local work or an exact
    (integer/decimal/count) aggregation, so results are unaffected.
    Pass only near-scan frames (``.rdd`` on a frame with upstream
    exchanges would trigger partial AQE execution)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)
