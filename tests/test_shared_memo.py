"""``ml.shared.memo``: the one session-shared artifact memo. Concurrent
first calls build once, every build's wall lands in ``BUILD_WALLS``,
builds may nest, and each ``SparkSession`` (``newSession()`` siblings
included) gets its own build."""

from __future__ import annotations

import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pytest

from conftest import SF_DIR
from uni_mannheim_masters_thesis_spark.ml import shared

_SF = "/memo_test_sf/"


def _tag(stem: str) -> str:
    return f"{stem}/{uuid.uuid4().hex}"


@pytest.fixture()
def fast_switch():
    """Switch threads as often as the interpreter allows, so a
    check-then-act race shows."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        yield
    finally:
        sys.setswitchinterval(old)


def _counting_build(calls: list, delay: float = 0.2):
    def build():
        calls.append(threading.get_ident())
        time.sleep(delay)  # widens the first-touch race
        return object()

    return build


def test_concurrent_first_touch_builds_once(spark, fast_switch):
    tag, calls = _tag("race"), []
    build = _counting_build(calls)
    walls_before = set(shared.BUILD_WALLS)
    with ThreadPoolExecutor(max_workers=8) as ex:
        got = list(ex.map(
            lambda _: shared.memo(spark, _SF, tag, build), range(8),
            timeout=60,
        ))
    assert len(calls) == 1
    assert all(g is got[0] for g in got)
    assert set(shared.BUILD_WALLS) - walls_before == {tag}
    assert shared.BUILD_WALLS[tag] >= 0.2


def test_nested_memo_does_not_deadlock(spark):
    outer, inner = _tag("outer"), _tag("inner")

    def build_outer():
        return ("outer", shared.memo(spark, _SF, inner, lambda: "inner"))

    out: list = []
    worker = threading.Thread(
        target=lambda: out.append(shared.memo(spark, _SF, outer, build_outer)),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=60)
    assert not worker.is_alive(), "nested memo deadlocked"
    assert out == [("outer", "inner")]
    assert shared.memo(spark, _SF, inner, lambda: "rebuilt") == "inner"
    assert {outer, inner} <= set(shared.BUILD_WALLS)


def test_sessions_build_separately_and_repeat_calls_hit(spark):
    tag, calls = _tag("session"), []
    build = _counting_build(calls, delay=0.0)
    sibling = spark.newSession()
    a = shared.memo(spark, _SF, tag, build)
    b = shared.memo(sibling, _SF, tag, build)
    assert len(calls) == 2 and a is not b
    # a repeat call, with or without a trailing slash, is a hit
    assert shared.memo(spark, _SF.rstrip("/"), tag, build) is a
    assert shared.memo(sibling, _SF, tag, build) is b
    assert len(calls) == 2


def test_trained_bpe_trains_once_under_concurrency(
    spark, monkeypatch, fast_switch
):
    from uni_mannheim_masters_thesis_spark.ml import bpe
    from uni_mannheim_masters_thesis_spark.plans import q_text

    calls: list = []
    trained = (object(), object())

    def fake_train(spark_, words, n_merges):
        calls.append(n_merges)
        time.sleep(0.3)
        return trained

    monkeypatch.setattr(bpe, "bpe_train_full", fake_train)
    fresh = spark.newSession()  # no trained state yet
    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(
            lambda _: q_text._trained_bpe(fresh, SF_DIR), range(4),
            timeout=60,
        ))
    assert len(calls) == 1
    assert all(g is trained for g in got)
