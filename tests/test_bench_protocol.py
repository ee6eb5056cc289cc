"""``bench.timed``, the bench timing rule (protocol v5): a first run that
ran a one-time shared build (a new or changed ``BUILD_WALLS`` entry) is
discarded once and the query is timed again; the spike guard then
measures as before. Fake runs only, no Spark."""

from __future__ import annotations

import uuid

import pytest

import bench
from uni_mannheim_masters_thesis_spark.scratch import BUILD_WALLS

WARM = 0.4  # a fake query's warm wall, also its hint: never a spike


@pytest.fixture()
def tag():
    t = f"fake_build/{uuid.uuid4().hex}"
    yield t
    BUILD_WALLS.pop(t, None)


def _fake_run(walls: list[float], build_on: set[int], tag: str):
    """A run callable returning ``walls[i]`` on its i-th call and
    recording a build of ``tag`` on the calls in ``build_on``."""
    calls: list[int] = []

    def run() -> float:
        i = len(calls)
        calls.append(i)
        if i in build_on:
            BUILD_WALLS[tag] = float(i)  # a changed entry counts as a build
        return walls[i]

    return run, calls


def test_first_run_that_builds_is_discarded(tag):
    run, calls = _fake_run([5.0, WARM], {0}, tag)
    retimed: dict = {}
    assert bench.timed(run, WARM, "q", retimed) == WARM
    assert len(calls) == 2
    assert retimed["q"] == {
        "first_run_s": 5.0, "samples_s": [WARM], "built": [tag],
    }


def test_run_that_builds_nothing_runs_once(tag):
    run, calls = _fake_run([WARM], set(), tag)
    retimed: dict = {}
    assert bench.timed(run, WARM, "q", retimed) == WARM
    assert len(calls) == 1
    assert retimed == {}


def test_run_that_builds_every_call_is_discarded_once(tag):
    run, calls = _fake_run([5.0, WARM, WARM, WARM], {0, 1, 2, 3}, tag)
    retimed: dict = {}
    assert bench.timed(run, WARM, "q", retimed) == WARM
    assert len(calls) == 2
    assert retimed["q"]["built"] == [tag]


def test_warm_spike_after_discard_takes_the_median_of_three(tag):
    run, calls = _fake_run([5.0, 9.0, WARM, 0.5], {0}, tag)
    retimed: dict = {}
    assert bench.timed(run, WARM, "q", retimed) == 0.5
    assert len(calls) == 4
    assert retimed["q"] == {
        "first_run_s": 5.0, "samples_s": [WARM, 0.5, 9.0], "built": [tag],
    }


def test_spike_without_build_keeps_the_v4_record(tag):
    run, calls = _fake_run([9.0, WARM, 0.5], set(), tag)
    retimed: dict = {}
    assert bench.timed(run, WARM, "q", retimed) == 0.5
    assert retimed["q"] == {"first_run_s": 9.0, "samples_s": [WARM, 0.5, 9.0]}
