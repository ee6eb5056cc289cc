"""Coverage-map integrity: every SURVEY §2 operator ID is mapped, every
claimed query exists in the registry, every claimed implementation
imports, and COVERAGE.md is current."""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from coverage_map import ALL_IDS, COVERAGE, generate_markdown
from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY


def test_every_survey_id_is_mapped():
    missing = [i for i in ALL_IDS if i not in COVERAGE]
    assert not missing, f"unmapped SURVEY §2 ids: {missing}"


def test_every_claimed_query_exists():
    for op_id, (_, queries) in COVERAGE.items():
        for q in queries:
            assert q in REGISTRY, f"{op_id} claims unknown query {q}"


def test_every_claimed_impl_imports():
    pkg = "uni_mannheim_masters_thesis_spark"
    for op_id, (impl, _) in COVERAGE.items():
        if impl.startswith("excluded:"):
            continue
        target = impl.split("#")[0].strip()
        mod_name, attr = target.split(":")
        mod = importlib.import_module(f"{pkg}.{mod_name}")
        assert hasattr(mod, attr), f"{op_id}: {target} does not resolve"


def test_non_excluded_ids_have_queries():
    for op_id, (impl, queries) in COVERAGE.items():
        if impl.startswith("excluded:"):
            continue
        assert queries, f"{op_id} has no registry query"


def test_coverage_md_is_current():
    with open(os.path.join(_REPO, "COVERAGE.md")) as f:
        on_disk = f.read()
    assert on_disk == generate_markdown(), (
        "COVERAGE.md is stale — run `python tools/coverage_map.py`"
    )


def _driver_green() -> set[str]:
    """Queries whose LATEST verdict across the committed driver
    artifacts (``CORRECTNESS_r*.json``, oldest round first) is green:
    a hash match with no error, or a rows-only query (``no_oracle``)
    that returned rows. A later red verdict revokes an earlier green."""
    latest: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            latest.update(json.load(f))
    return {
        name
        for name, v in latest.items()
        if (v.get("err") is None and v.get("hash_match") is True)
        or (v.get("err") == "no_oracle" and (v.get("spark_rows") or 0) > 0)
    }


def test_cumulative_driver_evidence_covers_every_operator():
    """The driver checks only the first 50 registry entries per round,
    and the window has rotated since round 7. Every operator must have
    a query that is either green in the committed driver artifacts (by
    latest verdict, ``_driver_green``) or seated in the current
    first-50 window — so cumulative driver artifacts anchor the whole
    SURVEY §2 + extended inventory."""
    evidenced = set(list(REGISTRY)[:50]) | _driver_green()
    # plan_invariant_audit is rows-only by design (never hash-evidenced)
    # and was rotated out of the window per the r8 verdict; its primary
    # evidence is the widened CI twin tests/test_plan_invariants.py,
    # which this suite runs every time.
    ci_evidenced = {"X-ops-plan-audit"}
    missing = []
    for op_id, (impl, queries) in COVERAGE.items():
        if impl.startswith("excluded:") or op_id in ci_evidenced:
            continue
        if not any(q in evidenced for q in queries):
            missing.append(op_id)
    assert not missing, f"operators with no driver-evidenced query: {missing}"


def test_rotated_window_seats_every_unhashed_oracle_query():
    """Rounds 6-10 rotated the window to drain the driver-sample blind
    spot (never-hashed queries got priority). As of round 11 the spot
    is drained: every oracle-backed query is either green in the
    committed driver artifacts (by latest verdict, ``_driver_green``)
    or seated in the current window. Rows-only queries are exempt —
    hashing them is impossible by design (r8 verdict) and their
    evidence is the full walk's ok_-invariants."""
    from uni_mannheim_masters_thesis_spark.plans.registry import _DRIVER_PRIORITY

    green = _driver_green()
    unseated = [
        name
        for name, spec in REGISTRY.items()
        if spec.sql is not None
        and name not in green
        and name not in _DRIVER_PRIORITY
    ]
    assert not unseated, (
        f"oracle-backed queries with neither a green driver verdict nor "
        f"a window seat: {unseated}"
    )


def test_driver_priority_is_exactly_the_first_50():
    from uni_mannheim_masters_thesis_spark.plans.registry import _DRIVER_PRIORITY

    assert len(_DRIVER_PRIORITY) == 50
    assert set(list(REGISTRY)[:50]) == set(_DRIVER_PRIORITY)
