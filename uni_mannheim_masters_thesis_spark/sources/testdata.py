"""Loaders for the driver's synthetic testdata tables.

Tables (one parquet each, see TESTDATA.md / FIXTURES.md §B):
``region nation customer supplier part orders lineitem events documents
embeddings``.

The generator wrote timestamp columns as parquet ``TIMESTAMP(NANOS)``,
which Spark's vectorized reader rejects. We read them via
``spark.sql.legacy.parquet.nanosAsLong`` and convert losslessly to
``timestamp`` (microsecond precision; the data carries no sub-microsecond
digits). Integer division (`div`) keeps the arithmetic exact — a
float division would lose precision above 2^53 ns.

Every read of a table goes through ``read_parquet``, which remembers the
schema Spark inferred for a path: schema inference is a Spark job that
reads the parquet footers, and a session that runs one query after
another would otherwise pay it on every load of the same table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import ensure_engine_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestamp-typed columns per table (stored as TIMESTAMP(NANOS) in parquet)
_NS_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: absolute path -> (on-disk stamp, inferred schema); process-wide, shared by
#: every session and thread (single dict reads and writes are atomic)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple:
    """What an inferred parquet schema depends on: the bytes on disk and
    whether TIMESTAMP(NANOS) surfaces as ``bigint``.

    A single file is stamped by its mtime and size; a parquet directory
    by the sorted (relative path, mtime, size) of the data files Spark
    lists (names starting with ``_`` or ``.`` are metadata it skips).
    """
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in names:
                if not n.startswith(("_", ".")):
                    f = os.path.join(root, n)
                    fst = os.stat(f)
                    files.append((os.path.relpath(f, path), fst.st_mtime_ns, fst.st_size))
        disk = tuple(sorted(files))
    else:
        st = os.stat(path)
        disk = (st.st_mtime_ns, st.st_size)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return disk, nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    on-disk state of ``path``; later reads pass the remembered schema
    and launch no inference job.

    Two threads that miss at once both infer; the last write wins, and
    both schemas are equal. No lock is held across the inference.
    """
    path = os.path.abspath(path)
    stamp = _stamp(spark, path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Coerce a testdata timestamp column to session-TZ ``timestamp``.

    The generator has stored timestamps as either parquet TIMESTAMP(NANOS)
    (surfacing as ``bigint`` under ``nanosAsLong``) or TIMESTAMP(MICROS,
    utc=false) (surfacing as ``timestamp_ntz``) across regenerations, so
    every reader — batch AND streaming — must branch on the observed
    dtype rather than assume one encoding. Shared here so the branches
    can't drift apart again (round-2 regression: the streaming readers
    assumed bigint-nanos and broke on TIMESTAMP_NTZ data).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # TIMESTAMP(NANOS) read under nanosAsLong
        df = df.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast("timestamp")
        )
    elif dtype == "timestamp_ntz":  # TIMESTAMP(MICROS, utc=false)
        # values are UTC wall-clock; session TZ is pinned UTC, so the
        # cast is value-preserving and enables unix_micros etc.
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with proper timestamp types."""
    ensure_engine_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _NS_TIMESTAMP_COLS.get(name, ()):
        df = normalize_ts(df, c)
    return df


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table with the same ts normalization
    as the batch loader.

    FileStreamSource needs a DIRECTORY. The events table arrives either
    as a single file ``events.parquet`` (driver testdata) or as a
    parquet directory ``events.parquet/`` (any ``df.write`` output,
    e.g. the scale-check's Nx dataset) — a filename glob over ``sf_dir``
    silently matches ZERO files in the directory layout, so branch on
    the layout instead of globbing blind.
    """
    ensure_engine_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    static = read_parquet(spark, path)
    reader = spark.readStream.schema(static.schema)
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_ts(stream, "ts")


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (mirrors the DuckDB oracle setup)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
