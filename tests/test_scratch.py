"""``scratch`` owns every directory the package writes outside its
inputs: no other module makes a temp dir, a process leaves nothing but
published caches behind, dead processes' roots are swept, and published
caches are keyed on the table they are built from, record their builds
and reclaim the copies a rebuild makes stale."""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

from conftest import REPO_ROOT, SF_DIR

from uni_mannheim_masters_thesis_spark import scratch

PKG = os.path.join(REPO_ROOT, "uni_mannheim_masters_thesis_spark")
_BANNED_CALLS = {"mkdtemp", "gettempdir", "TemporaryDirectory"}


def _temp_dir_uses(tree: ast.AST):
    """(line, what) for every banned temp-dir call, ``mkstemp`` without
    ``dir=`` and ``"/dev/shm"`` literal in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else (
                f.id if isinstance(f, ast.Name) else None
            )
            if name in _BANNED_CALLS or (
                name == "mkstemp"
                and not any(k.arg == "dir" for k in node.keywords)
            ):
                yield node.lineno, name
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "/dev/shm" in node.value
        ):
            yield node.lineno, "/dev/shm"


def test_detector_flags_every_temp_dir_shape():
    src = (
        "import tempfile\nfrom tempfile import mkdtemp\n"
        "tempfile.mkdtemp(); mkdtemp(prefix='x'); tempfile.gettempdir()\n"
        "tempfile.TemporaryDirectory(); tempfile.mkstemp()\n"
        "tempfile.mkstemp(dir='d'); p = '/dev/shm'\n"
    )
    got = sorted(w for _, w in _temp_dir_uses(ast.parse(src)))
    assert got == sorted([
        "mkdtemp", "mkdtemp", "gettempdir", "TemporaryDirectory",
        "mkstemp", "/dev/shm",
    ])


def test_only_scratch_makes_temp_dirs():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == scratch.__file__:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            offenders += [
                f"{os.path.relpath(path, PKG)}:{line} {what}"
                for line, what in _temp_dir_uses(tree)
            ]
    assert not offenders, f"temp dirs outside scratch.py: {offenders}"


_LEFTOVER_QUERIES = (
    "csv_metrics_roundtrip", "json_artifact_roundtrip",
    "dictionary_text_roundtrip", "matrix_market_roundtrip",
    "model_save_load", "xml_corpus_roundtrip", "orc_corpus_roundtrip",
    "make_wiki_pipeline", "partitioned_write_pruning", "hdp_suggested_lda",
    "bucketed_colocated_join", "streaming_lakehouse_sink",
)

_LEFTOVER_SCRIPT = """
import json, os, sys
sys.path.insert(0, {repo!r})
from uni_mannheim_masters_thesis_spark import scratch
from uni_mannheim_masters_thesis_spark.plans.registry import REGISTRY
from uni_mannheim_masters_thesis_spark.session import get_session

spark = get_session("scratch_leftovers", cpus=2)
for name in {queries!r}:
    assert REGISTRY[name].fn(spark, {sf!r}).collect(), name
print(json.dumps({{"pid": os.getpid(), "roots": sorted(scratch._ROOTS.values())}}))
"""


def test_process_leaves_only_published_dirs(tmp_path):
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()  # the default warehouse is <cwd>/spark-warehouse
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="2g")
    script = _LEFTOVER_SCRIPT.format(
        repo=REPO_ROOT, queries=_LEFTOVER_QUERIES, sf=SF_DIR
    )
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    out = json.loads(run.stdout.strip().splitlines()[-1])
    own_root = os.path.join(str(tmp), f"umt_scratch_{out['pid']}")
    assert own_root in out["roots"]  # the queries did use scratch
    for name in os.listdir(tmp):
        path = os.path.join(tmp, name)
        assert os.path.isdir(path) and not name.startswith("umt_scratch_"), name
        assert scratch._SOURCE in os.listdir(path), name
    wh = cwd / "spark-warehouse"
    assert not wh.exists() or not os.listdir(wh), os.listdir(wh)
    for root in out["roots"]:
        assert not os.path.exists(root), root
    assert not os.path.exists(f"/dev/shm/umt_scratch_{out['pid']}")


def test_first_use_sweeps_only_dead_roots(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "_ROOTS", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # reaped: its pid names no process now
    dead = tmp_path / f"umt_scratch_{child.pid}"
    live = tmp_path / f"umt_scratch_{os.getppid()}"
    own = tmp_path / f"umt_scratch_{os.getpid()}"
    for d in (dead, live, own):
        d.mkdir()
        (d / "f").write_text("x")
    made = scratch.session_dir("x_")
    assert not dead.exists()
    assert (live / "f").exists() and (own / "f").exists()
    assert os.path.dirname(made) == str(own)


def test_concurrent_first_use_makes_one_root(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "_ROOTS", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sweeps = []
    sweep = scratch._sweep_dead_roots

    def slow_sweep(parent):
        sweeps.append(parent)
        time.sleep(0.05)  # widen the window a second resolver would hit
        sweep(parent)

    monkeypatch.setattr(scratch, "_sweep_dead_roots", slow_sweep)
    barrier = threading.Barrier(8)
    made = []

    def first_use():
        barrier.wait()
        made.append(scratch.session_dir("t_"))

    threads = [threading.Thread(target=first_use) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sweeps == [str(tmp_path)]
    assert os.listdir(tmp_path) == [f"umt_scratch_{os.getpid()}"]
    assert len(set(made)) == 8
    assert {os.path.dirname(m) for m in made} == set(scratch._ROOTS.values())


def test_query_dir_is_removed_on_every_exit_path():
    with scratch.query_dir("q_") as d:
        assert os.path.isdir(d) and not os.listdir(d)
    assert not os.path.exists(d)
    try:
        with scratch.query_dir("q_") as d:
            raise KeyError
    except KeyError:
        pass
    assert not os.path.exists(d)


def test_published_cache_keys_on_the_table_it_is_built_from(
    spark, tmp_path, monkeypatch
):
    from uni_mannheim_masters_thesis_spark.plans.q_similarity import (
        _ann_deleted_index_dir,
    )

    # the path only: skip the builds
    monkeypatch.setattr(
        scratch, "staged_cache_dir", lambda tdir, marker, build: tdir
    )
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    before = _ann_deleted_index_dir(spark, str(sf))
    os.utime(sf / "events.parquet")
    assert _ann_deleted_index_dir(spark, str(sf)) == before

    emb = sf / "embeddings.parquet"
    st = os.stat(emb)
    emb.write_bytes(emb.read_bytes())
    # a rewrite within the same second still counts
    os.utime(emb, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    assert _ann_deleted_index_dir(spark, str(sf)) != before


def _private_tmpdir(tmp_path, monkeypatch):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(scratch, "_ROOTS", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return tmp


def _touch_rewrite(path):
    st = os.stat(path)
    path.write_bytes(path.read_bytes())
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))


def test_published_miss_records_its_build_and_a_hit_does_not(
    tmp_path, monkeypatch
):
    _private_tmpdir(tmp_path, monkeypatch)
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"x")
    name = f"umt_probe_{os.getpid()}"
    builds = []
    try:
        first = scratch.published(str(sf), "events", name, "_DONE",
                                  builds.append)
        assert scratch.BUILD_WALLS[name] >= 0
        del scratch.BUILD_WALLS[name]
        again = scratch.published(str(sf), "events", name, "_DONE",
                                  builds.append)
        assert again == first and len(builds) == 1
        assert name not in scratch.BUILD_WALLS
        with open(os.path.join(first, scratch._SOURCE)) as f:
            assert f.read() == repr((str(sf), "events"))
    finally:
        scratch.BUILD_WALLS.pop(name, None)


def test_published_rebuild_reclaims_the_stale_copy(
    spark, tmp_path, monkeypatch
):
    from uni_mannheim_masters_thesis_spark.plans.q_similarity import (
        _ann_deleted_index_dir,
    )

    tmp = _private_tmpdir(tmp_path, monkeypatch)
    sf = tmp_path / "sf"
    shutil.copytree(SF_DIR, sf)
    gone = tmp_path / "gone"
    events_cache = scratch.published(
        str(sf), "events", "umt_probe_events", "_DONE", lambda stage: None
    )
    # an old-format dir (no source stamp) and one whose dataset is gone
    legacy = tmp / "umt_ann_del_0123456789"
    orphan = tmp / "umt_ann_del_abcdef0123"
    for d in (legacy, orphan):
        d.mkdir()
        (d / "_UMT_ANNDEL_DONE").write_text("ok")
    (orphan / scratch._SOURCE).write_text(repr((str(gone), "embeddings")))

    before = _ann_deleted_index_dir(spark, str(sf))
    assert not orphan.exists() and legacy.exists()
    _touch_rewrite(sf / "embeddings.parquet")
    after = _ann_deleted_index_dir(spark, str(sf))

    assert after != before and not os.path.exists(before)
    left = sorted(n for n in os.listdir(tmp) if n.startswith("umt_ann_del_"))
    assert left == sorted([legacy.name, os.path.basename(after)])
    built = set(scratch.BUILD_WALLS)
    assert scratch.published(
        str(sf), "events", "umt_probe_events", "_DONE", lambda stage: None
    ) == events_cache
    assert set(scratch.BUILD_WALLS) == built
    scratch.BUILD_WALLS.pop("umt_probe_events", None)
