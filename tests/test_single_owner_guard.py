"""One stream runner and one scratch owner, enforced.

Every stream in the package starts and stops in ``streaming/run.py`` (the
one place that picks a drain and always stops the query), and every scratch
path comes from ``scratch.py`` (the one owner of the temp dir).  This test
walks the package AST outside ``vendor/`` and fails by file:line on a stream
start or drain outside the runner, or a ``tempfile`` path outside the
scratch owner, so neither discipline can regress silently.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "remote_shuffle_spark"

STREAM_ATTRS = {"writeStream", "processAllAvailable", "awaitTermination"}
TEMP_ATTRS = {"gettempdir", "mkdtemp", "mkstemp"}
OWNED = {"streaming/run.py": STREAM_ATTRS, "scratch.py": TEMP_ATTRS}


def _offenders(tree: ast.AST, rel: str) -> list[str]:
    forbidden = (STREAM_ATTRS | TEMP_ATTRS) - OWNED.get(rel, set())
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in forbidden:
            hits.append(f"{rel}:{node.lineno} .{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            hits += [
                f"{rel}:{node.lineno} from tempfile import {a.name}"
                for a in node.names
                if a.name in forbidden
            ]
    return hits


def test_streams_and_scratch_have_one_owner():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        if rel.startswith("vendor/"):
            continue
        offenders += _offenders(ast.parse(path.read_text(), filename=rel), rel)
    assert not offenders, (
        "run streams through streaming/run.py:run_to_completion and take "
        "scratch paths from scratch.py (cached_dir / run_dir):\n"
        + "\n".join(offenders)
    )


def test_guard_actually_detects():
    """The guard is live: synthetic offenders trip the same detector, and
    the owners themselves pass."""
    src = (
        "import tempfile\n"
        "from tempfile import mkdtemp\n"
        "d = tempfile.gettempdir()\n"
        "q = df.writeStream.format('memory').start()\n"
        "q.processAllAvailable()\n"
        "q.awaitTermination(5)\n"
    )
    hits = _offenders(ast.parse(src), "streaming/x.py")
    assert sorted(hits) == [
        "streaming/x.py:2 from tempfile import mkdtemp",
        "streaming/x.py:3 .gettempdir",
        "streaming/x.py:4 .writeStream",
        "streaming/x.py:5 .processAllAvailable",
        "streaming/x.py:6 .awaitTermination",
    ]
    assert _offenders(ast.parse("q.processAllAvailable()"), "streaming/run.py") == []
    assert _offenders(ast.parse("tempfile.mkdtemp()"), "scratch.py") == []
