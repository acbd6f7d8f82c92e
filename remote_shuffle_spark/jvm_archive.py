"""Class-data sharing for the driver JVM, and the one owner of the driver's
launch environment (``SPARK_CONF_DIR``) and JVM options
(``spark.driver.extraJavaOptions``).

Most of a local session's start-up is the driver JVM loading Spark's
classes: about 10,400 before ``get_session`` returns and 18,900 by the
end of the first query, most from the jars under ``$SPARK_HOME/jars``.
JDK 17's dynamic class-data sharing (AppCDS) maps them from an archive
instead, which roughly halves both phases (docs/scale.md, "Session
start: class-data sharing"):

- archive present: the driver starts with ``-XX:SharedArchiveFile``;
- archive missing: the driver starts with
  ``-XX:ArchiveClassesAtExit=<unique .part>`` and writes the classes it
  loaded there as it exits (10-20 s more at exit, once);
- a later session adopts a ``.part`` only after ``java -Xshare:on`` has
  mapped it with the same classpath and exited 0, and then renames it
  into place.  A truncated archive aborts the JVM that maps it, so no
  unvalidated file ever reaches a session's JVM.  A ``.part`` that still
  fails the check after :data:`STALE_S` is a dead dump and is deleted,
  and so is every archive under another key.

A JDK 17 JVM started to dump fails at start-up when a non-empty directory
is on the classpath, and Spark's launcher puts the conf dir first on it.  So while the gateway
launches, ``SPARK_CONF_DIR`` points at an empty directory beside the
archive, and only when the effective conf dir holds nothing but
``*.template`` files (a real conf file, an extra classpath or a Hadoop
conf dir leaves the session as it was).  Both live in the persistent
cache (``scratch.persistent_dir``): the empty dir's path is part of the
archived classpath, and a per-run ``TMPDIR`` would rebuild the archive
every run.  The key covers the ``java`` binary, ``libjvm`` and each
jar's name, size and mtime, so a JDK or jar change builds a fresh
archive instead of serving one the JVM would refuse to use.

Only ``local*`` masters: their driver is this host's JVM.  Executor
JVMs (``local-cluster``, remote masters) start as before.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from remote_shuffle_spark import scratch

JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# a .part older than this that still fails validation is a dead dump (the
# JVM writes it in seconds, at exit)
STALE_S = 3600.0
# each of these adds to the driver's classpath; a dumping JVM with a
# non-empty directory on it fails to start ("Cannot have non-empty
# directory in paths")
_CLASSPATH_CONF = ("spark.driver.extraClassPath", "spark.jars", "spark.jars.packages")
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
)
# a session that already chooses its own sharing mode keeps it
_SHARING_OPTIONS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")


def _java() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else
    the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return java if java and os.access(java, os.X_OK) else None


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


@dataclass(frozen=True)
class DriverArchive:
    """The class archive of one driver classpath, in directory ``dir``."""

    dir: str
    java: str
    classpath: str
    key: str

    @property
    def conf_dir(self) -> str:
        return os.path.join(self.dir, "conf")

    @property
    def path(self) -> str:
        return os.path.join(self.dir, f"driver-{self.key}.jsa")

    def parts(self) -> list[str]:
        """This key's ``.part`` files, oldest first."""
        found = []
        for p in glob.glob(os.path.join(self.dir, f"driver-{self.key}.*.part")):
            with contextlib.suppress(FileNotFoundError):
                found.append((os.path.getmtime(p), p))
        return [p for _, p in sorted(found)]

    def maps(self, path: str) -> bool:
        """``java -Xshare:on`` maps ``path`` on this classpath and exits 0;
        a truncated, zeroed or mismatched archive exits non-zero."""
        cmd = [
            self.java,
            "-Xshare:on",
            f"-XX:SharedArchiveFile={path}",
            "-XX:-CreateCoredumpOnCrash",
            "-XX:ErrorFile=/dev/null",
            "-cp",
            self.classpath,
            "-version",
        ]
        try:
            return subprocess.run(
                cmd, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=60,
            ).returncode == 0
        except (OSError, subprocess.TimeoutExpired):
            return False

    def java_options(self) -> str:
        """The sharing options for the next driver JVM: map the archive,
        adopting a validated ``.part`` first; else dump to a fresh
        ``.part`` at exit; else (another session's dump is in flight)
        none."""
        if not os.path.isfile(self.path):
            for part in self.parts():
                if os.path.getsize(part) and self.maps(part):
                    # another session may adopt the same part first
                    with contextlib.suppress(FileNotFoundError):
                        os.replace(part, self.path)
                    break
        self._sweep()
        if os.path.isfile(self.path):
            return f"-XX:SharedArchiveFile={self.path}"
        if self.parts():
            return ""
        part = os.path.join(self.dir, f"driver-{self.key}.{uuid.uuid4().hex[:12]}.part")
        # an empty placeholder until the JVM replaces it at exit: it tells
        # concurrent sessions a dump is in flight.  The dump's warnings
        # (signed jars, old class versions) stay off the caller's stdout.
        open(part, "x").close()
        return f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=error"

    def _sweep(self) -> None:
        """Delete other keys' archives and any ``.part`` older than
        :data:`STALE_S`."""
        now = time.time()
        for p in glob.glob(os.path.join(self.dir, "driver-*")):
            with contextlib.suppress(FileNotFoundError):
                if (p.endswith(".jsa") and p != self.path) or (
                    p.endswith(".part") and now - os.path.getmtime(p) > STALE_S
                ):
                    os.unlink(p)


def _key(java: str, jars: str, classpath: str) -> str | None:
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    libjvm = os.path.join(java_home, "lib", "server", "libjvm.so")
    try:
        stamps = [scratch.file_stamp(java), scratch.file_stamp(libjvm)]
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            stamps.append((name, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return hashlib.sha1(repr((classpath, stamps)).encode()).hexdigest()[:16]


def driver_archive(master: str, conf: dict[str, str]) -> DriverArchive | None:
    """The archive a driver launched with ``master`` and ``conf`` can
    share, or None when that session must start as before."""
    if not master.startswith("local"):
        return None
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell").strip() != "pyspark-shell":
        return None
    if any(os.environ.get(k) for k in _CLASSPATH_ENV) or any(conf.get(k) for k in _CLASSPATH_CONF):
        return None
    if any(o in conf.get(JAVA_OPTIONS, "") for o in _SHARING_OPTIONS):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    user_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    java = _java()
    d = scratch.persistent_dir("jvm")
    if not (java and d and os.path.isdir(jars) and _only_templates(user_conf)):
        return None
    if any(c.isspace() for c in d):  # the launcher splits extraJavaOptions on whitespace
        return None
    conf_dir = os.path.join(d, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    if os.listdir(conf_dir):
        return None
    # the launcher's classpath: the conf dir, slf4j-api first, then every jar
    slf4j = [os.path.join(jars, n) for n in os.listdir(jars) if n.startswith("slf4j-api-")]
    classpath = os.pathsep.join([conf_dir + os.sep, *slf4j, os.path.join(jars, "*")])
    key = _key(java, jars, classpath)
    return DriverArchive(d, java, classpath, key) if key else None


@contextlib.contextmanager
def driver_launch(master: str, conf: dict[str, str]) -> Iterator[dict[str, str]]:
    """Launch the gateway inside this block with the yielded conf: the
    archive's options appended to the user's ``extraJavaOptions`` and,
    until the block exits, ``SPARK_CONF_DIR`` on the archive's empty conf
    dir.  Yields ``conf`` unchanged, and leaves the environment alone,
    when a session is already active (a driver that built its own session
    first keeps it) or no archive applies.  A gateway left running by a
    stopped session ignores the options: they take effect only in a JVM
    launched with them (a dump placeholder made for it is swept as a dead
    dump)."""
    from pyspark.sql import SparkSession

    archive = None
    if SparkSession.getActiveSession() is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = driver_archive(master, conf)
    options = archive.java_options() if archive else ""
    if not options:
        yield conf
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        yield {**conf, JAVA_OPTIONS: " ".join(filter(None, (conf.get(JAVA_OPTIONS), options)))}
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
