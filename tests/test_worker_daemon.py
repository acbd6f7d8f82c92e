"""The engine's Python worker daemon (``vendor/workerd/rss_worker_daemon.py``).

Every pyspark worker task calls ``importlib.invalidate_caches()``; the
daemon makes a ``zipimporter`` re-read its archive on that call only when
the archive's ``(st_mtime_ns, st_size)`` changed since that importer's last
re-read.  The stamp rule, and the no-op where zipimport reads lazily
(CPython 3.12+), are checked in fresh interpreters (installing it patches
``zipimport`` process-wide); the session wiring is checked by a pandas UDF
asking which daemon forked its worker.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

from remote_shuffle_spark.vendor import _DAEMON_DIR, DAEMON_MODULE

STAMP_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

daemon_dir, archive = sys.argv[1:3]
sys.path.insert(0, daemon_dir)
import rss_worker_daemon

assert rss_worker_daemon.install()


def write(members):
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


write({"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n"})
sys.path.insert(0, archive)
import zpkg.a

reads = []
stamped_read = zipimport._read_directory
zipimport._read_directory = lambda path: (reads.append(path), stamped_read(path))[1]
importers = [
    imp for imp in sys.path_importer_cache.values()
    if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
]
importlib.invalidate_caches()
first = reads.count(archive)
importlib.invalidate_caches()
unchanged = reads.count(archive) - first
write({"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\n", "zpkg/b.py": "Y = 2\n"})
importlib.invalidate_caches()
rewritten = reads.count(archive) - first - unchanged
importlib.invalidate_caches()
again = reads.count(archive) - first - unchanged - rewritten
import zpkg.b

print(json.dumps({"importers": len(importers), "first": first, "unchanged": unchanged,
                  "rewritten": rewritten, "again": again, "b": zpkg.b.Y}))
"""


LAZY_SCRIPT = r"""
import sys, zipimport

sys.path.insert(0, sys.argv[1])
import rss_worker_daemon

# zipimport as of CPython 3.12: importers read the archive lazily
zipimport.zipimporter._get_files = lambda self: {}
before = zipimport.zipimporter.invalidate_caches
assert rss_worker_daemon.install() is False
assert zipimport.zipimporter.invalidate_caches is before
print("untouched")
"""


def test_invalidate_rereads_only_a_changed_archive(tmp_path):
    """The first invalidation stamps each importer (one re-read each).
    Unchanged archive: no re-read.  Rewritten archive (new member, new
    size): each importer on it re-reads once, the new member imports, and
    the next invalidation reads nothing again."""
    out = subprocess.run(
        [sys.executable, "-c", STAMP_SCRIPT, _DAEMON_DIR, str(tmp_path / "pkg.zip")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["importers"] == 2  # the archive root and zpkg/
    assert got["first"] == got["importers"]
    assert got["unchanged"] == 0
    assert got["rewritten"] == got["importers"]
    assert got["again"] == 0
    assert got["b"] == 2


def test_install_leaves_a_lazy_zipimport_alone():
    """Where a zipimporter reads lazily (``_get_files``), ``install``
    patches nothing, so the daemon starts as pyspark's own would."""
    out = subprocess.run(
        [sys.executable, "-c", LAZY_SCRIPT, _DAEMON_DIR],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["untouched"]


def test_engine_session_workers_run_under_the_engine_daemon(spark):
    """A pandas UDF's worker was forked by the engine daemon: ``python -m``
    runs it as ``__main__``, whose spec names the module."""

    @F.pandas_udf("string")
    def daemon_name(s: pd.Series) -> pd.Series:
        import sys

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        return pd.Series([spec.name if spec else ""] * len(s))

    got = {r.d for r in spark.range(2000).select(daemon_name("id").alias("d")).collect()}
    assert got == {DAEMON_MODULE}


def test_remote_masters_stay_on_pysparks_daemon(monkeypatch):
    """A remote executor cannot see the driver's exported PYTHONPATH, so
    only ``local*`` masters select the engine daemon; any other master
    gets no conf and no export."""
    from remote_shuffle_spark.vendor import python_worker_conf

    monkeypatch.setenv("PYTHONPATH", "")
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert python_worker_conf(master) == {}
    assert _DAEMON_DIR not in os.environ["PYTHONPATH"].split(os.pathsep)
    for master in ("local[4]", "local-cluster[2,2,1024]"):
        assert python_worker_conf(master) == {"spark.python.daemon.module": DAEMON_MODULE}
    assert _DAEMON_DIR in os.environ["PYTHONPATH"].split(os.pathsep)
