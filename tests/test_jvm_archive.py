"""jvm_archive.py: the driver JVM's class-data-sharing archive.

Only a ``.part`` that ``java -Xshare:on`` maps is renamed into place, so
a truncated or zeroed file never reaches a session's JVM; sessions that
cannot share an archive keep their conf and environment; and two fresh
processes show the whole cycle: the first dumps at exit, the second maps
the archive and gets the same answer.  Every test keeps its cache under
``tmp_path`` (``XDG_CACHE_HOME``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid

import pytest
from pyspark.sql import SparkSession

from remote_shuffle_spark import jvm_archive
from remote_shuffle_spark.jvm_archive import JAVA_OPTIONS, STALE_S, driver_archive, driver_launch
from tests.conftest import REPO_ROOT, SF_SMOKE

MASTER = "local[2]"


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An eligible launch environment: the cache and an empty user conf
    dir under ``tmp_path``, no classpath-changing variables."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    (tmp_path / "spark_conf").mkdir()
    (tmp_path / "spark_conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "spark_conf"))
    for var in (*jvm_archive._CLASSPATH_ENV, "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    return tmp_path


def _dump(archive, name: str) -> str:
    """A small valid archive (the classes ``java -version`` loads) dumped
    on ``archive``'s classpath to ``<archive dir>/<name>``."""
    path = os.path.join(archive.dir, name)
    subprocess.run(
        [archive.java, f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds*=error",
         "-cp", archive.classpath, "-version"],
        check=True, capture_output=True, timeout=120,
    )
    return path


def _part(archive) -> str:
    return f"driver-{archive.key}.{uuid.uuid4().hex[:12]}.part"


def _age(*paths: str) -> None:
    old = time.time() - STALE_S - 60
    for p in paths:
        os.utime(p, (old, old))


def test_valid_part_is_adopted(cache):
    archive = driver_archive(MASTER, {})
    assert archive is not None
    part = _dump(archive, _part(archive))
    other_key = os.path.join(archive.dir, "driver-0123456789abcdef.jsa")
    open(other_key, "w").close()

    assert archive.java_options() == f"-XX:SharedArchiveFile={archive.path}"
    assert not os.path.exists(part)
    assert not os.path.exists(other_key)
    assert sorted(os.listdir(archive.dir)) == ["conf", os.path.basename(archive.path)]
    # the next session maps it without a second check
    assert archive.java_options() == f"-XX:SharedArchiveFile={archive.path}"


def test_truncated_and_zeroed_parts_are_never_adopted(cache):
    archive = driver_archive(MASTER, {})
    data = open(_dump(archive, "whole.jsa"), "rb").read()
    os.unlink(os.path.join(archive.dir, "whole.jsa"))
    truncated = os.path.join(archive.dir, _part(archive))
    zeroed = os.path.join(archive.dir, _part(archive))
    with open(truncated, "wb") as fh:
        fh.write(data[: len(data) // 2])
    with open(zeroed, "wb") as fh:
        fh.write(bytes(4096) + data[4096:])
    assert not archive.maps(truncated) and not archive.maps(zeroed)

    # young: a dump may still be writing them, so this session neither
    # maps them nor starts a dump of its own
    assert archive.java_options() == ""
    assert not os.path.exists(archive.path)
    assert sorted(archive.parts()) == sorted([truncated, zeroed])

    # old: dead dumps, deleted; this session dumps to a fresh part
    _age(truncated, zeroed)
    options = archive.java_options()
    (fresh,) = archive.parts()
    assert options == f"-XX:ArchiveClassesAtExit={fresh} -Xlog:cds*=error"
    assert os.path.getsize(fresh) == 0
    assert sorted(os.listdir(archive.dir)) == ["conf", os.path.basename(fresh)]


@pytest.mark.parametrize(
    "case",
    ["remote_master", "real_conf_file", "extra_classpath", "extra_jars", "hadoop_conf", "unwritable_cache"],
)
def test_ineligible_sessions_are_left_alone(cache, monkeypatch, case):
    master, conf = MASTER, {JAVA_OPTIONS: "-Dmine=1"}
    if case == "remote_master":
        master = "spark://host:7077"
    elif case == "real_conf_file":
        (cache / "spark_conf" / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    elif case == "extra_classpath":
        conf["spark.driver.extraClassPath"] = "extra.jar"
    elif case == "extra_jars":
        conf["spark.jars"] = "extra.jar"
    elif case == "hadoop_conf":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(cache))
    elif case == "unwritable_cache":
        (cache / "not_a_dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(cache / "not_a_dir"))
    assert driver_archive(master, conf) is None

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    before = dict(os.environ)
    with driver_launch(master, conf) as launched:
        assert launched == conf
        assert dict(os.environ) == before


def test_launch_appends_to_the_users_options_and_restores_the_conf_dir(cache, monkeypatch):
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    user_conf_dir = os.environ["SPARK_CONF_DIR"]
    conf = {JAVA_OPTIONS: "-Dmine=1", "spark.app.name": "x"}
    with driver_launch(MASTER, conf) as launched:
        archive = driver_archive(MASTER, conf)
        assert os.environ["SPARK_CONF_DIR"] == archive.conf_dir
        assert os.listdir(archive.conf_dir) == []
    assert os.environ["SPARK_CONF_DIR"] == user_conf_dir
    (part,) = archive.parts()
    assert launched == {**conf, JAVA_OPTIONS: f"-Dmine=1 -XX:ArchiveClassesAtExit={part} -Xlog:cds*=error"}


SESSION = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from pyspark.sql import functions as F
from remote_shuffle_spark import EngineConfig, get_session
from remote_shuffle_spark.sources.tables import load_table

extra = {"spark.driver.extraJavaOptions": sys.argv[3]} if sys.argv[3] else {}
spark = get_session(EngineConfig(master="local[2]", shuffle_partitions=2, extra=extra))
rows = (load_table(spark, sys.argv[2], "lineitem").groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n")).orderBy("l_returnflag").collect())
print("RESULT:" + json.dumps([list(r) for r in rows]), flush=True)
spark.stop()
# wait for the JVM to exit: a dump run writes its archive on the way out
gw = SparkContext._gateway
proc = gw.proc
gw.shutdown()
proc.stdin.close()
proc.wait(timeout=180)
"""


def _session(options: str) -> tuple[list, str]:
    out = subprocess.run(
        [sys.executable, "-c", SESSION, str(REPO_ROOT), SF_SMOKE, options],
        capture_output=True, text=True, timeout=420, cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    (line,) = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT:")]
    return json.loads(line.removeprefix("RESULT:")), out.stdout


def test_second_process_maps_the_first_ones_archive(cache):
    archive = driver_archive(MASTER, {})
    first, stdout = _session("")
    assert "[warning][cds]" not in stdout  # the dump stays off the caller's stdout
    (part,) = archive.parts()
    assert os.path.getsize(part) > 0 and archive.maps(part)
    assert not os.path.exists(archive.path)

    # the user's own option (a CDS log) survives next to the archive flag
    second, stdout = _session("-Xlog:cds")
    assert second == first
    assert "Mapped dynamic region" in stdout
    assert os.path.isfile(archive.path) and archive.parts() == []
