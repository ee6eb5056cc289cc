"""One owner for every directory the package writes outside its inputs.

The paper's dataflow is file-shaped (make_wiki dumps, dictionary and
Matrix Market corpora, saved models), so many queries write files and
read them back. Each such directory has one of three lifetimes:

- :func:`session_dir` lives until the process exits. A roundtrip returns
  a lazy DataFrame over the files it wrote, so they must outlive the
  call. The directory is a ``mkdtemp`` under the per-process root
  ``<gettempdir()>/umt_scratch_<pid>``, which is removed at exit.
- :func:`query_dir` lives for one ``with`` block: a streaming
  checkpoint, a sink table pinned before the block ends, slice staging.
  Its root is on ``/dev/shm`` when that exists, so a state store's
  per-micro-batch commits write to RAM instead of paying fsyncs.
- :func:`published` is shared across processes and kept: a derived
  table built once per on-disk state of the input table it reads,
  published by an atomic rename. A new build reclaims the copies built
  from an older state of the same table, or from a dataset that is gone.

A root is made at its first use, under a lock. That first use also
removes the roots of pids that are no longer alive, so the scratch of a
killed process is reclaimed by the next one instead of accumulating.
"""

from __future__ import annotations

import ast
import atexit
import hashlib
import os
import re
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager
from typing import Callable, Iterator

_SHM = "/dev/shm"
_ROOT_NAME = re.compile(r"^umt_scratch_(\d+)$")
_LOCK = threading.Lock()
#: parent dir -> this process's root under it
_ROOTS: dict[str, str] = {}
#: names the ``(abspath(sf_dir), table)`` a published dir was built from
_SOURCE = "_UMT_SOURCE"
#: tag -> wall of the tag's latest build: each ``ml.shared.memo`` build
#: (nested shared builds count inside their parent) and each
#: :func:`published` build this process ran. ``ml.shared`` re-exports
#: it; bench.py exports it as shared_build_s and discards a query's run
#: that added to it, perfbench counts new entries as ml.shared_builds.
BUILD_WALLS: dict[str, float] = {}


def _pid_alive(pid: int) -> bool:
    # Portable liveness: signal 0 probes existence without touching the
    # process (/proc/<pid> exists only on Linux). Any doubt keeps the root.
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # PermissionError: alive, owned by someone else
    return True


def _sweep_dead_roots(parent: str) -> None:
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        m = _ROOT_NAME.match(name)
        if m and not _pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def _root(parent: str) -> str:
    root = _ROOTS.get(parent)
    if root is None:
        with _LOCK:
            root = _ROOTS.get(parent)
            if root is None:
                _sweep_dead_roots(parent)
                root = os.path.join(parent, f"umt_scratch_{os.getpid()}")
                os.makedirs(root, exist_ok=True)
                _ROOTS[parent] = root
    return root


@atexit.register
def _remove_roots() -> None:
    for root in list(_ROOTS.values()):
        shutil.rmtree(root, ignore_errors=True)


def session_dir(prefix: str) -> str:
    """A fresh empty directory that lives until the process exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root(tempfile.gettempdir()))


@contextmanager
def query_dir(prefix: str) -> Iterator[str]:
    """A fresh empty directory, on tmpfs when the host has one, that is
    removed when the block exits, on every exit path."""
    parent = _SHM if os.path.isdir(_SHM) else tempfile.gettempdir()
    path = tempfile.mkdtemp(prefix=prefix, dir=_root(parent))
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def published(
    sf_dir: str, table: str, name: str, marker: str,
    build: Callable[[str], None],
) -> str:
    """The directory ``<gettempdir()>/<name>_<key>`` holding ``marker``,
    built by ``build`` if missing (see :func:`staged_cache_dir`).

    ``key`` hashes the dataset's absolute path and the on-disk stamp of
    the ``table`` the directory is built from, so a rewritten input gets
    a fresh directory, never a mutation of one another process reads.
    A build records its wall in ``BUILD_WALLS[name]`` and stamps the
    directory with its source; a hit records nothing."""
    from .sources.testdata import disk_stamp

    source = (os.path.abspath(sf_dir), table)
    try:
        stamp = disk_stamp(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        stamp = None
    key = hashlib.md5(repr((*source, stamp)).encode()).hexdigest()[:10]
    tdir = os.path.join(tempfile.gettempdir(), f"{name}_{key}")
    built = []

    def build_and_stamp(stage: str) -> None:
        t0 = time.time()
        build(stage)
        # after build: overwrites a stamp copied along from another cache
        with open(os.path.join(stage, _SOURCE), "w") as f:
            f.write(repr(source))
        BUILD_WALLS[name] = round(time.time() - t0, 3)
        built.append(stage)

    tdir = staged_cache_dir(tdir, marker, build_and_stamp)
    if built:
        _reclaim_stale(tdir, name, source)
    return tdir


def _reclaim_stale(tdir: str, name: str, source: tuple) -> None:
    """Remove the other ``<name>_<key>`` dirs built from ``source``
    (an older on-disk state of the same table) or from a dataset dir
    that no longer exists. Dirs without a source stamp predate it and
    are kept; staging dirs never match the name pattern."""
    parent, own = os.path.split(tdir)
    pattern = re.compile(re.escape(name) + r"_[0-9a-f]{10}")
    for entry in os.listdir(parent):
        if entry == own or not pattern.fullmatch(entry):
            continue
        path = os.path.join(parent, entry)
        try:
            with open(os.path.join(path, _SOURCE)) as f:
                other = ast.literal_eval(f.read())
        except (OSError, ValueError, SyntaxError):
            continue
        if other == source or not os.path.isdir(other[0]):
            shutil.rmtree(path, ignore_errors=True)


def staged_cache_dir(
    tdir: str, marker_name: str, build: Callable[[str], None]
) -> str:
    """Return ``tdir`` with ``marker_name`` present, building it via
    ``build(staging_dir)`` + atomic rename if missing.

    A done-marker written into ``tdir`` after an in-place build is not
    cross-process safe: another process can read (or vacuum) a
    half-built directory, or two builders can interleave. So ``build``
    receives a PRIVATE empty sibling directory and must treat it as the
    eventual ``tdir`` contents; it may itself create ``marker_name``
    (e.g. a stats JSON that doubles as the marker), otherwise a plain
    "ok" marker is added. One ``os.rename`` then publishes it: a reader
    sees a missing directory or a complete one, and concurrent builders
    race harmlessly on the rename (the loser discards its build)."""
    marker = os.path.join(tdir, marker_name)
    if os.path.exists(marker):
        return tdir
    parent = os.path.dirname(tdir) or "."
    stage = tempfile.mkdtemp(
        prefix=os.path.basename(tdir) + ".stage-", dir=parent
    )
    try:
        build(stage)
        stage_marker = os.path.join(stage, marker_name)
        if not os.path.exists(stage_marker):
            with open(stage_marker, "w") as f:
                f.write("ok")
        try:
            os.rename(stage, tdir)  # the atomic commit point
        except OSError:
            # tdir appeared meanwhile: either another process published
            # first (marker present — drop ours, use theirs) or a
            # half-built dir from a crash lingers (no marker — replace it)
            if os.path.exists(marker):
                shutil.rmtree(stage, ignore_errors=True)
            else:
                shutil.rmtree(tdir, ignore_errors=True)
                os.rename(stage, tdir)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    return tdir
