"""One stream runner, one scratch owner and one frame builder, enforced.

Every stream in the package starts and stops in ``streaming/run.py`` (the
one place that picks a drain and always stops the query), every scratch
path comes from ``scratch.py`` (the one owner of the temp dir), and every
driver-built frame comes from ``sources/local.py`` (Arrow ``LocalTableScan``,
never a pickled-RDD scan that needs a Python worker of its own), and every
fixture table is read in ``sources/tables.py`` (``load_table`` /
``table_schema``, which infer each file's schema once).  This test walks the
package AST outside ``vendor/`` and fails by file:line on a stream start or
drain outside the runner, a ``tempfile`` path outside the scratch owner,
``createDataFrame`` / ``parallelize`` / ``.rdd`` outside the frame builder,
or a ``.parquet(...)`` of a fixture path outside the table source, so none
of the four disciplines can regress silently.  A fifth walk, over the whole
package ``vendor/`` included, keeps the Python worker's environment in
``vendor/__init__.py``: no other file may write ``PYTHONPATH``, touch
``SparkContext.environment`` or name ``spark.python.daemon.module``.  A
sixth keeps the persistent cache root in ``scratch.py`` (no other file
names ``XDG_CACHE_HOME`` or ``~/.cache``) and the driver's launch in
``jvm_archive.py`` (no other file writes ``SPARK_CONF_DIR`` or names
``spark.driver.extraJavaOptions``): the class archive is valid only for
the classpath and options that one owner gives the driver JVM.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "remote_shuffle_spark"

STREAM_ATTRS = {"writeStream", "processAllAvailable", "awaitTermination"}
TEMP_ATTRS = {"gettempdir", "mkdtemp", "mkstemp"}
FRAME_ATTRS = {"createDataFrame", "parallelize", "rdd"}
OWNED = {
    "streaming/run.py": STREAM_ATTRS,
    "scratch.py": TEMP_ATTRS,
    "sources/local.py": FRAME_ATTRS,
}
FIXTURE_READER = "sources/tables.py"


def _is_table_path(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == "table_path") or (
        isinstance(f, ast.Attribute) and f.attr == "table_path"
    )


def _fixture_reads(tree: ast.AST, rel: str) -> set[str]:
    """``.parquet(p)`` where ``p`` is ``table_path(...)`` or a name bound to
    one in the same function (nested functions included)."""
    if rel == FIXTURE_READER:
        return set()
    hits = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        bound = {
            t.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Assign) and _is_table_path(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
                and n.args
                and (
                    _is_table_path(n.args[0])
                    or (isinstance(n.args[0], ast.Name) and n.args[0].id in bound)
                )
            ):
                hits.add(f"{rel}:{n.lineno} .parquet(fixture)")
    return hits


def _offenders(tree: ast.AST, rel: str) -> list[str]:
    forbidden = (STREAM_ATTRS | TEMP_ATTRS | FRAME_ATTRS) - OWNED.get(rel, set())
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
    return hits + sorted(_fixture_reads(tree, rel))


def test_streams_and_scratch_have_one_owner():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        if rel.startswith("vendor/"):
            continue
        offenders += _offenders(ast.parse(path.read_text(), filename=rel), rel)
    assert not offenders, (
        "run streams through streaming/run.py:run_to_completion and take "
        "scratch paths from scratch.py (cached_dir / run_dir) and build "
        "driver-side frames with sources/local.py:local_frame and read "
        "fixture tables with sources/tables.py (load_table / table_schema):\n"
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
        "a = spark.createDataFrame(rows, 'x int')\n"
        "b = spark.sparkContext.parallelize(rows)\n"
        "c = df.rdd.map(f)\n"
    )
    hits = _offenders(ast.parse(src), "streaming/x.py")
    assert sorted(hits) == [
        "streaming/x.py:2 from tempfile import mkdtemp",
        "streaming/x.py:3 .gettempdir",
        "streaming/x.py:4 .writeStream",
        "streaming/x.py:5 .processAllAvailable",
        "streaming/x.py:6 .awaitTermination",
        "streaming/x.py:7 .createDataFrame",
        "streaming/x.py:8 .parallelize",
        "streaming/x.py:9 .rdd",
    ]
    assert _offenders(ast.parse("q.processAllAvailable()"), "streaming/run.py") == []
    assert _offenders(ast.parse("tempfile.mkdtemp()"), "scratch.py") == []
    assert _offenders(ast.parse("spark.createDataFrame(t, s)"), "sources/local.py") == []


def test_fixture_read_guard_detects():
    """A fixture read is ``.parquet`` of ``table_path(...)`` or of a local
    bound to it in the same function, closures included; other paths and
    the table source itself pass."""
    src = (
        "def f(spark, sf, s, other):\n"
        "    a = spark.read.parquet(table_path(sf, 'orders'))\n"
        "    p = tables.table_path(sf, 'events')\n"
        "    b = spark.read.schema(s).parquet(p)\n"
        "    def build(tmp):\n"
        "        return spark.read.parquet(p)\n"
        "    q = other(sf)\n"
        "    return spark.read.parquet(q), spark.readStream.schema(s).parquet(tmp)\n"
    )
    assert _offenders(ast.parse(src), "streaming/x.py") == [
        "streaming/x.py:2 .parquet(fixture)",
        "streaming/x.py:4 .parquet(fixture)",
        "streaming/x.py:6 .parquet(fixture)",
    ]
    assert _offenders(ast.parse(src), FIXTURE_READER) == []


WORKER_ENV_OWNER = "vendor/__init__.py"
ENV_WRITERS = {"setdefault", "putenv", "unsetenv", "pop"}


def _env_write(n: ast.AST, var: str) -> bool:
    """``n`` writes environment variable ``var``: subscript store or
    delete, ``setdefault``/``putenv``/``unsetenv``/``pop``, ``update(var=)``."""
    named = lambda a: isinstance(a, ast.Constant) and a.value == var  # noqa: E731
    if isinstance(n, ast.Subscript):
        return isinstance(n.ctx, (ast.Store, ast.Del)) and named(n.slice)
    return isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
        (n.func.attr in ENV_WRITERS and bool(n.args) and named(n.args[0]))
        or (n.func.attr == "update" and any(k.arg == var for k in n.keywords))
    )


def _worker_env_writes(tree: ast.AST, rel: str) -> list[str]:
    """Writes of ``PYTHONPATH``, any ``.environment`` access, and the
    daemon-module conf key."""
    if rel == WORKER_ENV_OWNER:
        return []
    hits = []
    for n in ast.walk(tree):
        if _env_write(n, "PYTHONPATH"):
            hits.append(f"{rel}:{n.lineno} PYTHONPATH write")
        elif isinstance(n, ast.Attribute) and n.attr == "environment":
            hits.append(f"{rel}:{n.lineno} .environment")
        elif isinstance(n, ast.Constant) and n.value == "spark.python.daemon.module":
            hits.append(f"{rel}:{n.lineno} daemon module conf")
    return sorted(hits)


def test_worker_environment_has_one_owner():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        offenders += _worker_env_writes(ast.parse(path.read_text(), filename=rel), rel)
    assert not offenders, (
        "export worker paths and set the worker daemon through "
        "remote_shuffle_spark/vendor/__init__.py (ensure_protobuf / "
        "python_worker_conf):\n" + "\n".join(offenders)
    )


def test_worker_environment_guard_detects():
    src = (
        "os.environ['PYTHONPATH'] = p\n"
        "os.environ.setdefault('PYTHONPATH', p)\n"
        "env.update(PYTHONPATH=p)\n"
        "sc.environment['X'] = '1'\n"
        "b = b.config('spark.python.daemon.module', 'm')\n"
        "del os.environ['PYTHONPATH']\n"
        "v = os.environ.get('PYTHONPATH', '')\n"
    )
    assert _worker_env_writes(ast.parse(src), "session.py") == [
        "session.py:1 PYTHONPATH write",
        "session.py:2 PYTHONPATH write",
        "session.py:3 PYTHONPATH write",
        "session.py:4 .environment",
        "session.py:5 daemon module conf",
        "session.py:6 PYTHONPATH write",
    ]
    assert _worker_env_writes(ast.parse(src), WORKER_ENV_OWNER) == []


CACHE_ROOT_OWNER = "scratch.py"
LAUNCH_OWNER = "jvm_archive.py"


def _launch_offenders(tree: ast.AST, rel: str) -> list[str]:
    """Names of the persistent cache root outside ``scratch.py``; writes of
    ``SPARK_CONF_DIR`` and the driver's JVM-options key outside
    ``jvm_archive.py``."""
    hits = []
    for n in ast.walk(tree):
        if rel != CACHE_ROOT_OWNER and isinstance(n, ast.Constant) and isinstance(n.value, str) and (
            "XDG_CACHE_HOME" in n.value or ".cache" in n.value.split("/")
        ):
            hits.append(f"{rel}:{n.lineno} cache root")
        if rel == LAUNCH_OWNER:
            continue
        if _env_write(n, "SPARK_CONF_DIR"):
            hits.append(f"{rel}:{n.lineno} SPARK_CONF_DIR write")
        elif isinstance(n, ast.Constant) and n.value == "spark.driver.extraJavaOptions":
            hits.append(f"{rel}:{n.lineno} driver java options")
    return sorted(hits)


def test_driver_launch_has_one_owner():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE))
        offenders += _launch_offenders(ast.parse(path.read_text(), filename=rel), rel)
    assert not offenders, (
        "take persistent paths from scratch.py (persistent_dir) and set the "
        "driver's conf dir and JVM options in remote_shuffle_spark/"
        "jvm_archive.py (driver_launch):\n" + "\n".join(offenders)
    )


def test_driver_launch_guard_detects():
    src = (
        "base = os.environ.get('XDG_CACHE_HOME')\n"
        "d = os.path.expanduser('~/.cache')\n"
        "os.environ['SPARK_CONF_DIR'] = d\n"
        "os.environ.pop('SPARK_CONF_DIR', None)\n"
        "b = b.config('spark.driver.extraJavaOptions', '-Xshare:off')\n"
        "c = os.environ.get('SPARK_CONF_DIR')\n"
        "e = os.path.join(d, 'x.cached')\n"
    )
    assert _launch_offenders(ast.parse(src), "session.py") == [
        "session.py:1 cache root",
        "session.py:2 cache root",
        "session.py:3 SPARK_CONF_DIR write",
        "session.py:4 SPARK_CONF_DIR write",
        "session.py:5 driver java options",
    ]
    assert _launch_offenders(ast.parse(src), LAUNCH_OWNER) == [
        "jvm_archive.py:1 cache root",
        "jvm_archive.py:2 cache root",
    ]
    assert _launch_offenders(ast.parse(src), CACHE_ROOT_OWNER) == [
        "scratch.py:3 SPARK_CONF_DIR write",
        "scratch.py:4 SPARK_CONF_DIR write",
        "scratch.py:5 driver java options",
    ]
