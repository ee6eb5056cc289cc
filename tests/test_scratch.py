"""``scratch`` owns every directory the package writes outside its
inputs: no other module makes a temp dir, a process leaves nothing but
published caches behind, dead processes' roots are swept, and published
caches are keyed on the table they are built from."""

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
        assert any(m.startswith("_UMT_") for m in os.listdir(path)), name
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
