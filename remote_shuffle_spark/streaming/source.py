"""Shared plumbing for the file-backed streaming queries.

Two concerns every streaming declared query has:

- The file-stream source needs a DIRECTORY, but the fixture is one
  read-only parquet file — expose it through a per-target symlink dir.
  The dir is keyed on a hash of the file's REALPATH (not its basename):
  two fixtures with the same basename, or a regenerated fixture at a new
  path, must never silently stream each other's data.  A re-pointed or
  dangling link is repaired, not trusted.

- ``spark.sql.shuffle.partitions`` sizes the state-store exchange and is
  fixed at query start; each stream runs in a cloned session (same
  SparkContext, isolated SQL conf + temp catalog) that pins the parent's.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.scratch import cached_dir
from remote_shuffle_spark.sources.tables import ensure_session_defaults


def event_time(dtype: str | None) -> Column:
    """``ts`` normalized to TIMESTAMP (watermarks require TIMESTAMP, not
    NTZ) from whichever physical type the events fixture carries:

    - ``bigint`` — parquet TIMESTAMP(NANOS) read as epoch-nanos long under
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to micros
      (matches DuckDB's ns→us truncation);
    - ``timestamp_ntz`` / ``timestamp`` — plain cast; the session timezone
      is pinned UTC (ensure_session_defaults) so the wall clock is
      identical to the NTZ batch path either way.
    """
    if dtype == "bigint":
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def file_stream_dir(path: str) -> str:
    """Directory exposing the single file at ``path`` to a file-stream source."""
    real = os.path.realpath(path)
    d = cached_dir(
        "stream", (real,), lambda tmp: os.symlink(real, os.path.join(tmp, "events.parquet"))
    )
    link = os.path.join(d, "events.parquet")
    if not os.path.islink(link) or os.readlink(link) != real:
        if os.path.lexists(link):  # lexists: a dangling link is replaced too
            os.remove(link)
        os.symlink(real, link)
    return d


def stream_session(spark: SparkSession) -> SparkSession:
    """A cloned session to run one streaming query in, with the parent's
    ``spark.sql.shuffle.partitions`` copied (``newSession()`` does not
    inherit runtime conf).  State store instances = shuffle partitions,
    each paying a commit in every micro-batch, so at the parent's value
    (``EngineConfig.shuffle_partitions``: the core count locally) every
    stateful stage commits in one wave (docs/scale.md).  A parent that
    never set the key (a driver's vanilla session) would hand over Spark's
    built-in 200; the clone takes ``min(200, defaultParallelism)`` then."""
    scoped = spark.newSession()
    ensure_session_defaults(scoped)
    key = "spark.sql.shuffle.partitions"
    n = spark.conf.getAll.get(key) or str(min(200, spark.sparkContext.defaultParallelism))
    scoped.conf.set(key, n)
    return scoped
