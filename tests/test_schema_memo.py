"""The parquet schema memo in ``sources.read_parquet``: a repeat load of
an unchanged table launches no Spark job, a change on disk (or in the
``nanosAsLong`` conf) is re-inferred, and every load returns the schema
and rows a fresh inference would."""

from __future__ import annotations

import concurrent.futures
import random
import shutil
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from conftest import SF_DIR
from uni_mannheim_masters_thesis_spark.sources.testdata import (
    TABLES,
    load_table,
    normalize_ts,
    read_parquet,
)

TS_COLS = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}


def jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched from this thread)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def fresh_schema(spark, sf_dir, name):
    """load_table's schema from an inference that bypasses the memo."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return (normalize_ts(df, TS_COLS[name]) if name in TS_COLS else df).schema


@pytest.fixture()
def cold_sf(tmp_path):
    """A copy of the test tables at paths the memo has never seen."""
    for name in TABLES:
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


@pytest.fixture()
def nanos_sf(tmp_path):
    """The events table re-encoded as parquet TIMESTAMP(NANOS), the
    encoding that surfaces as ``bigint`` under ``nanosAsLong``."""
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    i = t.schema.get_field_index("ts")
    pq.write_table(t.set_column(i, "ts", t["ts"].cast(pa.timestamp("ns"))),
                   tmp_path / "events.parquet")
    return str(tmp_path)


def test_repeat_load_launches_no_job(spark, cold_sf):
    _, first = jobs_launched(spark, lambda: load_table(spark, cold_sf, "nation"))
    df, second = jobs_launched(spark, lambda: load_table(spark, cold_sf, "nation"))
    assert first >= 1  # the probe sees the inference job of a miss
    assert second == 0
    assert df.schema == fresh_schema(spark, cold_sf, "nation")
    assert df.count() == load_table(spark, SF_DIR, "nation").count()


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_added_directory_file_is_reinferred(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), d / "part-1.parquet")
    assert read_parquet(spark, str(d)).columns == ["a"]
    # Spark infers a directory's schema from its first data file by
    # name, so the added file decides the new schema
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), d / "part-0.parquet")
    df, n_jobs = jobs_launched(spark, lambda: read_parquet(spark, str(d)))
    assert n_jobs >= 1
    assert df.columns == ["a", "b"]
    assert df.schema == spark.read.parquet(str(d)).schema
    assert df.count() == 3


def test_concurrent_first_loads_match_fresh_inference(spark, cold_sf):
    expected = {name: fresh_schema(spark, cold_sf, name) for name in TABLES}

    def load_all(seed):
        names = list(TABLES)
        random.Random(seed).shuffle(names)
        return {name: load_table(spark, cold_sf, name).schema for name in names}

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' check-then-store
    try:
        with concurrent.futures.ThreadPoolExecutor(8) as pool:
            results = [f.result(timeout=300) for f in
                       [pool.submit(load_all, seed) for seed in range(8)]]
    finally:
        sys.setswitchinterval(interval)
    assert all(r == expected for r in results)
    _, n_jobs = jobs_launched(spark, lambda: load_all(8))
    assert n_jobs == 0


@pytest.mark.parametrize("name", sorted(TS_COLS))
def test_timestamps_survive_a_memo_hit(spark, name):
    load_table(spark, SF_DIR, name)
    df, n_jobs = jobs_launched(spark, lambda: load_table(spark, SF_DIR, name))
    assert n_jobs == 0
    assert dict(df.dtypes)[TS_COLS[name]] == "timestamp"


def test_nanos_timestamps_survive_a_memo_hit(spark, nanos_sf):
    assert dict(read_parquet(spark, f"{nanos_sf}/events.parquet").dtypes)["ts"] == "bigint"
    df, n_jobs = jobs_launched(spark, lambda: load_table(spark, nanos_sf, "events"))
    assert n_jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert sorted(df.collect()) == sorted(load_table(spark, SF_DIR, "events").collect())


def test_memo_is_keyed_on_nanos_as_long(spark, nanos_sf):
    path = f"{nanos_sf}/events.parquet"
    read_parquet(spark, path)  # remembers ts as bigint
    other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    # without the legacy conf Spark cannot read TIMESTAMP(NANOS); the
    # memo must not hide that behind the bigint schema it holds
    with pytest.raises(AnalysisException):
        other.read.parquet(path)
    with pytest.raises(AnalysisException):
        read_parquet(other, path)


def test_vanilla_session_loads(spark, nanos_sf):
    vanilla = spark.newSession()
    for key in (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.shuffle.partitions",
    ):
        vanilla.conf.unset(key)
    for sf_dir in (SF_DIR, nanos_sf):
        df = load_table(vanilla, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert sorted(df.collect()) == sorted(load_table(spark, SF_DIR, "events").collect())
    assert load_table(vanilla, SF_DIR, "lineitem").count() == (
        load_table(spark, SF_DIR, "lineitem").count()
    )
