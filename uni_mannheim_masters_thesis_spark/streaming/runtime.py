"""Shared synchronous-drain runtime for the streaming queries.

Structured Streaming fixes the number of state-store instances per
stateful operator to ``spark.sql.shuffle.partitions`` AT QUERY START,
and every instance pays per-micro-batch fixed costs (state files,
commit log entries, task scheduling) regardless of how much state it
holds. For these test/bench drains — one micro-batch over a single
parquet file — 32 instances are pure overhead: the stream-stream
interval join runs ~3× faster at 8 state partitions and slightly
faster again at 4 (r5 A/B: warm family totals 13.2 s at 8 vs 12.6 s at
4, interval join 3.7→3.3 s) with bit-identical results (the drained
relations are aggregates, order-independent).

``drain`` therefore starts every query under
``min(session shuffle partitions, STREAM_STATE_PARTITION_CAP)`` and
restores the session conf afterwards. The cap derives from the session
setting, so the partition-determinism gate (which varies
``spark.sql.shuffle.partitions``) still varies streaming state
partitioning and would catch any order-dependence.

Scale note (100 TB): state-partition count is a deployment knob, not a
semantic one — on a real cluster you size it to stream volume (rule of
thumb: ~number of cores, more under skew). Pass ``cap`` explicitly or
raise :data:`STREAM_STATE_PARTITION_CAP` there; nothing else changes.
"""

from __future__ import annotations

import json
import threading
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..scratch import query_dir

STREAM_STATE_PARTITION_CAP = 4

#: Serializes the session-wide shuffle-partition cap (r13 ADVICE: the
#: cap mutates a SESSION conf, so two concurrent cap users could clobber
#: each other's restore value — e.g. restore the other's capped 4 as
#: the "previous" setting). Reentrant so a capped caller that drains a
#: nested stream never deadlocks. Serial callers (the bench, the driver
#: walk) pay one uncontended acquire.
_CAP_LOCK = threading.RLock()

_KEY = "spark.sql.shuffle.partitions"


@contextmanager
def stream_state_partitions(spark: SparkSession, cap: int = STREAM_STATE_PARTITION_CAP):
    """Temporarily cap shuffle partitions (= state-store instances) for
    a streaming query start; restores the session value on exit. Holds
    :data:`_CAP_LOCK` for the whole scope so concurrent cap users can
    never interleave set/restore (r13 ADVICE item 4)."""
    with _CAP_LOCK:
        cur = spark.conf.get(_KEY)
        spark.conf.set(_KEY, str(min(int(cur), cap)))
        try:
            yield
        finally:
            spark.conf.set(_KEY, cur)


def run_to_end(
    spark: SparkSession,
    writer: DataStreamWriter,
    name_prefix: str,
    cap: int | None = None,
    progress_out: list | None = None,
) -> str:
    """Start ``writer`` as a query named ``<name_prefix>_<random>``,
    process all available input, stop it, and return the name.

    The checkpoint is a ``scratch.query_dir`` (tmpfs when the host has
    one: the state store then writes its delta/commit files to RAM
    instead of paying per-micro-batch fsyncs), removed on every exit
    path. ``cap`` caps state partitions for the start, the moment the
    state-store instance count is fixed; keeping the capped-conf window
    to ``.start()`` lets independent drains overlap from driver threads
    instead of serializing on the conf lock. When ``progress_out`` is a
    list, every StreamingQueryProgress dict the run produced (batchId,
    numInputRows, durationMs, stateOperators ...) is appended to it
    before the query stops."""
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    with query_dir(f"{name}_") as ckpt:
        writer = writer.queryName(name).option("checkpointLocation", ckpt)
        capped = cap is not None
        with stream_state_partitions(spark, cap) if capped else nullcontext():
            query = writer.start()
        try:
            query.processAllAvailable()
            if progress_out is not None:
                progress_out.extend(
                    p if isinstance(p, dict) else json.loads(p.json)
                    for p in query.recentProgress
                )
        finally:
            try:
                query.stop()
            finally:
                # streaming engine threads inherit (and can leave
                # behind) SQL-execution thread-locals; a stale
                # execution.id without its root.id breaks the next
                # nested Dataset.rdd materialization on this thread
                # (NumberFormatException in SQLExecution). Reset to
                # a clean slate for batch work.
                sc = spark.sparkContext
                sc.setLocalProperty("spark.sql.execution.id", None)
                sc.setLocalProperty("spark.sql.execution.root.id", None)
    return name


def drain(
    agg: DataFrame,
    output_mode: str,
    name_prefix: str = "stream",
    cap: int = STREAM_STATE_PARTITION_CAP,
    progress_out: list | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion on a memory sink and
    return the drained table (batch DataFrame); see :func:`run_to_end`."""
    spark = agg.sparkSession
    writer = agg.writeStream.outputMode(output_mode).format("memory")
    return spark.table(run_to_end(spark, writer, name_prefix, cap, progress_out))
