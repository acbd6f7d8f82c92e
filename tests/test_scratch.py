"""scratch.py: content-keyed caches survive the process, per-run
directories do not, and an incomplete cache is rebuilt rather than served."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from remote_shuffle_spark import scratch


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """Scratch space rooted in ``tmp_path`` with no run root made yet."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scratch, "_run_root", None)
    return tmp_path


def _touch_build(name: str):
    return lambda d: open(os.path.join(d, name), "w").close()


def test_exit_hook_removes_run_dirs_and_keeps_caches(tmp_root):
    runs = [scratch.run_dir("ckpt"), scratch.run_dir("sink")]
    assert len(set(runs)) == 2
    for d in runs:
        os.makedirs(d)
        open(os.path.join(d, "part"), "w").close()
    cached = scratch.cached_dir("t", ("k", 1), _touch_build("data"))
    assert os.path.dirname(cached) == str(tmp_root)

    scratch._remove_run_root()

    assert not any(os.path.exists(d) for d in runs)
    assert sorted(os.listdir(tmp_root)) == [os.path.basename(cached)]
    assert sorted(os.listdir(cached)) == ["_SUCCESS", "data"]


def test_run_root_removed_at_interpreter_exit(tmp_path):
    code = (
        "import os\n"
        "from remote_shuffle_spark.scratch import run_dir\n"
        "d = run_dir('x'); os.makedirs(d); print(d)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, env=env, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    assert out.startswith(str(tmp_path))
    assert os.listdir(tmp_path) == []


def test_cached_dir_builds_once(tmp_root):
    calls = []

    def build(d):
        calls.append(d)
        _touch_build("data")(d)

    a = scratch.cached_dir("t", ("k",), build)
    b = scratch.cached_dir("t", ("k",), build)
    assert a == b and len(calls) == 1
    assert scratch.cached_dir("t", ("k2",), build) != a


def test_cached_dir_rebuilds_incomplete(tmp_root):
    out = scratch.cached_dir("t", ("k",), _touch_build("data"))
    os.remove(os.path.join(out, "_SUCCESS"))  # e.g. pruned by a /tmp cleaner
    assert scratch.cached_dir("t", ("k",), _touch_build("fresh")) == out
    assert sorted(os.listdir(out)) == ["_SUCCESS", "fresh"]


def test_cached_dir_failed_build_leaves_nothing(tmp_root):
    def build(d):
        open(os.path.join(d, "half"), "w").close()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        scratch.cached_dir("t", ("k",), build)
    assert os.listdir(tmp_root) == []
