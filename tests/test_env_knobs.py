"""The package reads no environment variable outside the session-sizing
knobs. Behaviour is chosen by code and arguments; every env knob must
earn a place in ``ALLOWED``. Walks the AST, so comments and docstrings
that mention a variable do not count."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "uni_mannheim_masters_thesis_spark",
)
ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
}


def _env_reads(tree: ast.AST):
    """(line, variable name or None when not a string literal) for every
    ``environ`` access and ``getenv`` call in ``tree``."""
    parents = {
        child: node
        for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }

    for node in ast.walk(tree):
        ident = node.attr if isinstance(node, ast.Attribute) else (
            node.id if isinstance(node, ast.Name) else None
        )
        if ident not in ("environ", "getenv"):
            continue
        parent = parents.get(node)
        key = None
        if ident == "getenv":
            if isinstance(parent, ast.Call) and parent.args:
                key = parent.args[0]
        elif isinstance(parent, ast.Subscript):
            key = parent.slice
        elif isinstance(parent, ast.Attribute):
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.func is parent and call.args:
                key = call.args[0]
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        yield node.lineno, key.value if literal else None


def test_detector_flags_every_read_shape():
    src = (
        "import os\nfrom os import environ, getenv\n"
        "os.environ.get('A'); os.environ['B']; os.getenv('C')\n"
        "environ.get('D'); getenv('E'); os.environ.get(name)\n"
        "dict(os.environ)\n"
    )
    got = sorted(_env_reads(ast.parse(src)), key=str)
    assert [k for _, k in got] == ["A", "B", "C", "D", "E", None, None]


def test_package_reads_only_session_sizing_env_knobs():
    seen, offenders = set(), []
    for root, _dirs, files in os.walk(PKG):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for line, name in _env_reads(tree):
                seen.add(name)
                if name not in ALLOWED:
                    offenders.append(f"{os.path.relpath(path, PKG)}:{line} {name}")
    assert not offenders, f"env reads outside {sorted(ALLOWED)}: {offenders}"
    assert seen == ALLOWED, seen  # the walk reaches session.py's reads
