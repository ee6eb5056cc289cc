"""SparkSession factory.

Local-mode defaults match the test/bench environment (``local[N]``, one
JVM); the same settings are the right starting point on a real cluster:
AQE on (runtime coalescing + skew-join splitting), shuffle partitions
sized to cores, UTC session time zone (required for DuckDB-oracle
comparability — DuckDB timestamps are UTC-naive), Arrow enabled for any
pandas_udf path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """The driver heap: 48g, or 3/8 of the host's physical memory where
    that is less.

    The single local JVM hosts executors, cached artifacts and MLlib
    fits; 24g showed storage eviction and multi-second GC hiccups in
    full-registry runs on a 128 GiB host, and 48g (3/8 of it) keeps the
    shared corpus/feature caches memory-resident. A fixed 48g on a
    smaller host lets the JVM grow past physical memory until the
    kernel kills it. ``SPARK_GRAFT_DRIVER_MEM`` overrides the default.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 << 10, kib * 3 // 8 >> 10)}m"


def get_session(app_name: str = "umt_spark", cpus: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults."""
    n = cpus or default_parallelism()
    # determinism-gate hook: every oracle-hashed query must produce the
    # same bytes under ANY shuffle partition count (tests vary this)
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(n)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: on a selective fact-fact
        # join Catalyst builds a bloom filter from the filtered side and
        # injects might_contain() into the big side's scan, cutting
        # shuffle volume before the join. The default size thresholds
        # (creation side <= 10MB plan-size guard, application side scan
        # >= threshold) keep it dormant at test scale and engage it on
        # exactly the 100 TB-shaped joins it exists for (plan-tested
        # with thresholds scaled down in test_plans.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # input-split sizing for the TEST corpus (the SCALING.md knob:
        # size maxPartitionBytes to the data, not the default): the
        # tables are MB-scale files, and the 128 MB default packs a
        # whole multi-file directory (e.g. a 10x scale-check corpus)
        # into ONE scan partition — CPU-dense per-doc ops (winnowing,
        # lemmatization) then run single-task regardless of cores
        # (measured: winnowing_fingerprint_set 12.3 s -> ~4 s at 10x).
        # 4 MB restores file-level parallelism for multi-file inputs
        # and cannot hurt the single-small-file 1x tables (a file only
        # splits at row-group boundaries). A 100 TB deployment raises
        # this back toward the default — it is a per-corpus knob.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata stores timestamps as parquet TIMESTAMP(NANOS),
        # which Spark cannot read natively; read as long + convert
        # (see sources.testdata.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


import threading as _threading

_PYFILE_SHIPPED: set[str] = set()
_PYFILE_LOCK = _threading.Lock()


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make this package importable inside Python WORKERS of a foreign
    session.

    A driver that imports us via file path (``__spark_entry__`` style)
    mutates only the *driver's* sys.path; pandas_udf / mapInPandas /
    applyInPandasWithState kernels are pickled BY REFERENCE to
    module-level functions, so the worker process must be able to
    ``import uni_mannheim_masters_thesis_spark`` itself — which fails
    whenever the foreign driver's cwd is not the repo root. Shipping a
    zip of the package via ``addPyFile`` fixes every such kernel at
    once (workers prepend fetched files to their sys.path).
    """
    ctx = spark.sparkContext
    key = ctx.applicationId
    if key in _PYFILE_SHIPPED:
        return
    # r14: the miss-check + zip + addPyFile must be atomic across driver
    # threads — two concurrent loaders (the pooled test harness, any
    # §2.6 caller) otherwise both build a zip and race addFile, and the
    # second byte-different zip (archive timestamps) makes Spark throw
    # "exists and does not match contents"
    with _PYFILE_LOCK:
        if key in _PYFILE_SHIPPED:
            return
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="umt_pyfiles_")
        zip_path = shutil.make_archive(
            os.path.join(staging, "uni_mannheim_masters_thesis_spark"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        ctx.addPyFile(zip_path)
        _PYFILE_SHIPPED.add(key)


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime-settable confs the engine relies on.

    Called by every loader so externally-created sessions (e.g. the
    driver's) behave identically to ours.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")  # see get_session
    # foreign sessions (e.g. the driver's) default to 200 shuffle
    # partitions — wrong for local mode; AQE coalescing then shrinks
    # them, but starting at ~cores avoids the scheduling overhead
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    _ship_package_to_workers(spark)
    return spark
