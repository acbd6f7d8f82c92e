"""The one owner of the package's scratch space: the system temp dir and
the persistent cache.

Three kinds of path, kept apart:

- :func:`cached_dir` — a content-keyed cache, ``<tmp>/rss_<tag>_<key>``,
  shared by every process on the host and kept across runs.  The key
  hashes the caller's inputs (source realpath, size, mtime_ns and
  parameters) and :func:`source_fingerprint`, so a regenerated fixture
  or an edit anywhere in the package gets a fresh directory.  A build
  goes to a private tmp path, is stamped ``_SUCCESS`` and renamed into
  place; a directory without the stamp (a crash, a /tmp cleaner pruning
  by atime) is rebuilt, never served.
- :func:`run_dir` — a fresh path under one per-process root that an
  ``atexit`` hook removes: checkpoints, sinks and other per-run output
  never outlive the process that made them.
- :func:`persistent_dir` — ``<cache root>/<name>`` under
  ``$XDG_CACHE_HOME/remote_shuffle_spark`` (default ``~/.cache/...``): a
  stable path that outlives every run and every ``TMPDIR``, for files
  whose own path is part of what they cache (the driver JVM's class
  archive records the classpath it was dumped with).
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import pathlib
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable

_run_root: str | None = None


def file_stamp(path: str) -> tuple[str, int, int]:
    """(realpath, size, mtime_ns) of ``path`` — a cache key's view of a source."""
    real = os.path.realpath(path)
    st = os.stat(real)
    return real, st.st_size, st.st_mtime_ns


@functools.cache
def source_fingerprint() -> str:
    """Hash of every ``.py`` file of this package, computed once per
    process: a cache built by the package's code is valid only for that
    code, and a writer's output can change through any of its callees."""
    root = pathlib.Path(__file__).parent
    h = hashlib.sha1()
    for p in sorted(root.rglob("*.py")):
        h.update(str(p.relative_to(root)).encode() + p.read_bytes())
    return h.hexdigest()


def _complete(d: str) -> bool:
    return os.path.isfile(os.path.join(d, "_SUCCESS"))


def cached_dir(tag: str, key_parts: Iterable[object], build: Callable[[str], None]) -> str:
    """Path of the complete cache ``rss_<tag>_<key>``, where ``key`` hashes
    ``key_parts`` and the package's source; on a miss ``build(tmp)`` fills
    a fresh directory that is then stamped and renamed into place."""
    parts = (source_fingerprint(), *key_parts)
    key = hashlib.sha1("|".join(map(str, parts)).encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"rss_{tag}_{key}")
    if _complete(out):
        return out
    # an incomplete directory must neither be served nor block the rename
    # of the fresh build (ENOTEMPTY)
    shutil.rmtree(out, ignore_errors=True)
    tmp = f"{out}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "a").close()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out)
    except OSError:
        # another process won the rename: serve the winner only if it
        # is complete, else serve this build from its tmp path
        if not _complete(out):
            return tmp
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def persistent_dir(name: str) -> str | None:
    """``<cache root>/<name>``, created on first use, or None when it
    cannot be created or written (the caller then caches nothing)."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # unset or relative: the XDG default
        base = os.path.join(os.path.expanduser("~"), ".cache")
    d = os.path.join(base, "remote_shuffle_spark", name)
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        return None
    return d if os.access(d, os.W_OK | os.X_OK) else None


def run_dir(prefix: str) -> str:
    """A fresh, not yet created path ``<run root>/<prefix>_<uuid>``."""
    global _run_root
    if _run_root is None:
        _run_root = tempfile.mkdtemp(prefix=f"rss_run_{os.getpid()}_")
    return os.path.join(_run_root, f"{prefix}_{uuid.uuid4().hex[:8]}")


@atexit.register
def _remove_run_root() -> None:
    global _run_root
    if _run_root is not None:
        shutil.rmtree(_run_root, ignore_errors=True)
        _run_root = None
