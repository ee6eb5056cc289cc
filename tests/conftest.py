from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("UMT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from uni_mannheim_masters_thesis_spark.session import get_session

    s = get_session("umt_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from oracle_harness import duckdb_connection

    return duckdb_connection(SF_DIR)


def jobs_launched(spark, fn):
    """(fn(), number of Spark jobs fn launched from this thread)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: a budget no test input reaches: 256 MiB as a byte estimate, 2**28
#: rows (connected_components' probe, limit(2 * budget + 1), must still
#: fit a Java int)
FORCE_LOCAL = 1 << 28


@pytest.fixture()
def force_dispatch(monkeypatch):
    """``force_dispatch(budget, local)`` pins ``operators.dispatch.<budget>``
    (``RANK_KEYS``, ``GRAPH_EDGES`` or ``DENSE_BYTES``) for this test so
    every size decision under it takes the local path (``local=True``)
    or the distributed one (``local=False``)."""
    from uni_mannheim_masters_thesis_spark.operators import dispatch

    def force(budget: str, local: bool) -> None:
        assert hasattr(dispatch, budget), budget
        monkeypatch.setattr(dispatch, budget, FORCE_LOCAL if local else 0)

    return force
