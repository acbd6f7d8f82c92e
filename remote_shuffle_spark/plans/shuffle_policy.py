"""Shuffle-policy layer — the reference's core concerns re-expressed at the
engine level (SURVEY §2.1 P10/P15/P17, §4).

The plugin's reason to exist is (a) shuffle data on REMOTE storage so
executor loss never recomputes upstream stages (vendored
DAGScheduler.scala:2038-2040 — ``fileLost = !remoteShuffleEnabled``), and
(b) atomic, idempotent commit of shuffle output
(RemoteShuffleBlockResolver.writeIndexFileAndCommit:133-197, tmp-file +
rename + existing-attempt dedup).  Above the DataFrame API the equivalents
are:

- :func:`checkpoint_to` — materialize a stage boundary to durable storage
  (parquet's commit protocol is the same tmp+rename+dedup dance) and read
  it back, cutting lineage so retries never climb past it.
- :func:`salted_aggregate` — two-phase aggregation for skewed keys (the
  engine-level answer to the DAOS writer's size-sampled spill-first
  policy, MapPartitionsWriter.scala:46-57,340-355).
- :func:`write_bucketed` / :func:`read_bucketed` — hash-bucketed tables so
  repeated joins/aggs on the bucket key skip their exchange entirely
  (dkey/akey layout parity: bucket ≈ dkey, file-per-writer ≈ akey,
  README.md:19-23 of shuffle-daos).
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.scratch import run_dir

# Per-path commit serialization: concurrent checkpoint_to calls on the SAME
# path (speculative/retried attempts in one app) must not interleave their
# overwrite's delete+write phases.  Mirrors the reference's existing-attempt
# dedup in writeIndexFileAndCommit (RemoteShuffleBlockResolver.scala:203-244):
# one attempt wins the commit, every attempt observes a readable result.
_COMMIT_LOCKS: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(path: str) -> threading.Lock:
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS[os.path.abspath(path)]


MANIFEST_NAME = "_rss_manifest.json"


class CheckpointIntegrityError(RuntimeError):
    """A checkpoint's on-disk file set no longer matches its commit manifest."""


def _local_dir(spark: SparkSession, path: str) -> str:
    """Resolve a ``file://``-scheme or scheme-less path to a plain local
    directory.  Manifest I/O is pure-Python ``os``/``open`` so it works
    identically in classic and Spark Connect mode (no ``_jvm``) and, on a
    real cluster, runs wherever the driver process runs — matching the
    reference, whose commit bookkeeping must not be driver-py4j-bound
    (RemoteShuffleBlockResolver commits from executors, scala:133-197).

    Remote schemes (hdfs://, s3a://, ...) need a Hadoop FS client that a
    pure-Python process doesn't have; fail loud rather than silently skip
    the integrity manifest — callers on such storage should point
    ``checkpoint_to`` at a mounted path or extend this seam with a
    cloud-store client.  A SCHEME-LESS path is local only when the
    session's default filesystem is local: if ``fs.defaultFS`` is set to
    a remote store (the usual cluster config), Spark wrote the parquet
    THERE and listing the driver's local disk would verify the wrong
    directory — so that combination fails loud too.  (Caveat: a
    defaultFS set only in core-site.xml — not as a spark.hadoop.* conf —
    is invisible without py4j; spell it as spark.hadoop.fs.defaultFS or
    use explicit file:// paths on such clusters.)"""
    if path.startswith("file:"):
        return path[len("file:") :]
    if "://" in path or (":" in path.split("/", 1)[0] and not os.path.isabs(path)):
        raise NotImplementedError(
            f"checkpoint manifest I/O is local-filesystem-only (got {path!r}); "
            "use a file:// / mounted path, or extend _local_dir for your store"
        )
    default_fs = spark.conf.get(
        "spark.hadoop.fs.defaultFS", spark.conf.get("fs.defaultFS", "file:///")
    )
    if not str(default_fs).startswith("file:"):
        raise NotImplementedError(
            f"scheme-less checkpoint path {path!r} resolves against "
            f"fs.defaultFS={default_fs!r}, not the driver-local disk — pass an "
            "explicit file:// path (or extend _local_dir for your store)"
        )
    return path


def _list_data_files(d: str) -> dict[str, int]:
    """Every committed data file under ``d`` → its size, keyed by the path
    relative to ``d`` (partition directories included), so a manifest
    stays valid when its directory is renamed."""
    files = {}
    for root, dirs, names in os.walk(d):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        for p in (os.path.join(root, n) for n in names if not n.startswith(("_", "."))):
            files[os.path.relpath(p, d)] = os.path.getsize(p)
    return files


def _write_manifest(spark: SparkSession, path: str, **extra: object) -> None:
    """Record the committed data files (relative path → size), plus any
    ``extra`` fields, so any later reader can tell a lost block from a
    legitimately smaller dataset.  The shuffle analog is the reference's
    index file: data without its index entry does not exist, and an index
    entry without its data is an error, never an empty block."""
    import json

    d = _local_dir(spark, path)
    tmp = os.path.join(d, f".{MANIFEST_NAME}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"files": _list_data_files(d), **extra}, fh)
    os.replace(tmp, os.path.join(d, MANIFEST_NAME))  # atomic, like the index commit


def _verify_manifest(spark: SparkSession, path: str, *, required: bool = False) -> dict | None:
    """The manifest at ``path`` once the on-disk files match it; raise on a
    missing, resized or unlisted file.  An absent manifest is a plain
    directory (``None``) unless ``required``."""
    import json

    d = _local_dir(spark, path)
    mfile = os.path.join(d, MANIFEST_NAME)
    if not os.path.exists(mfile):
        if required:
            raise CheckpointIntegrityError(f"{path} has no commit manifest: lost commit")
        return None
    with open(mfile) as fh:
        manifest = json.load(fh)
    on_disk = _list_data_files(d)
    listed = manifest["files"]
    missing = [f for f in listed if f not in on_disk]
    resized = [f for f, n in listed.items() if f in on_disk and on_disk[f] != n]
    unlisted = [f for f in on_disk if f not in listed]
    if missing or resized or unlisted:
        raise CheckpointIntegrityError(
            f"checkpoint at {path} lost blocks: missing={missing} resized={resized} "
            f"unlisted={unlisted}; refusing to return a silently-partial result — "
            "rebuild the checkpoint"
        )
    return manifest


def checkpoint_to(df: DataFrame, path: str, *, format: str = "parquet") -> DataFrame:
    """Materialize ``df`` at ``path`` and return the re-read DataFrame.

    Stage-boundary durability: after this, downstream failures re-read the
    materialized bytes instead of recomputing the upstream lineage —
    executor-loss parity with the reference (its map outputs live on the
    remote FS, so ``fileLost`` never invalidates them).  Overwrite is
    idempotent like writeIndexFileAndCommit: a retried writer replaces the
    same path atomically via the commit protocol's tmp+rename, and racing
    same-path writers in one process serialize on a per-path commit lock
    (one winner, all readers see a complete dataset).

    Failure semantics downstream of the cut are fail-loud: the returned
    frame's lineage STARTS at the files, a commit manifest records the
    exact file set, and :func:`read_checkpoint` refuses a directory whose
    blocks went missing — a lost or corrupted part can never silently
    shrink a result or recompute past the cut (tests/test_fault_injection.py).
    """
    with _commit_lock(path):
        df.write.mode("overwrite").format(format).save(path)
        _write_manifest(df.sparkSession, path)
        # re-open INSIDE the lock: load() lists the directory eagerly, and
        # a racing same-path writer's overwrite (delete + rewrite) must not
        # interleave with that listing — seen as a flaky read failure in
        # the commit-race test before the read moved under the lock
        return df.sparkSession.read.format(format).load(path)


def read_checkpoint(
    spark: SparkSession,
    path: str,
    *,
    format: str = "parquet",
    rebuild: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Re-open a :func:`checkpoint_to` materialization with integrity check.

    A fresh directory listing would silently NOT SEE a deleted part file
    (the dataset would just be smaller) — the exact failure mode the
    reference exists to prevent.  Verify the manifest first; raise
    :class:`CheckpointIntegrityError` on any lost/resized block.

    ``rebuild`` is the retry-ONCE semantics of the reference's corrupt-
    block fetch (RemoteShuffleBlockIterator.scala:429-438 retries a
    corrupt stream exactly once, then fails the task): a zero-arg
    callable returning the checkpoint's source lineage.  On integrity
    failure the checkpoint is re-materialized from it ONCE and
    re-verified; a second failure raises — never a silent loop, never a
    partial result.  Without ``rebuild`` (lineage unavailable — e.g. the
    source was itself dropped after the cut) the first failure raises.
    """
    try:
        _verify_manifest(spark, path)
    except CheckpointIntegrityError:
        if rebuild is None:
            raise
        checkpoint_to(rebuild(), path, format=format)  # the single retry
        _verify_manifest(spark, path)  # still broken → fail loudly
    return spark.read.format(format).load(path)


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation for skew-heavy keys.

    ``aggs`` maps output column → (input column, fn) where fn ∈
    {sum, count, min, max}.  Phase 1 aggregates on (keys + salt) so a hot
    key fans out over ``salt_buckets`` reducers; phase 2 merges partials.
    For these algebraic aggregates the result is identical to a direct
    groupBy (asserted in tests), but no single reducer ever sees a whole
    hot key.  (Spark's partial aggregation already defuses most skew;
    salting matters when the DISTINCT key count per reducer, not the row
    count, is the bottleneck — or under AQE-off constraints.)
    """
    supported = {"sum", "count", "min", "max"}
    for out, (col, fn) in aggs.items():
        if fn not in supported:
            raise ValueError(f"{fn!r} is not algebraic-mergeable here; use {supported}")

    salt = (F.xxhash64(*[F.col(k) for k in keys], F.spark_partition_id()) % salt_buckets).alias(
        "_salt"
    )
    phase1 = [
        (
            F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)
        ).alias(f"_p_{out}")
        for out, (col, fn) in aggs.items()
    ]
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase2 = [
        merge_fn[fn](f"_p_{out}").alias(out) for out, (col, fn) in aggs.items()
    ]
    return (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*phase1)
        .groupBy(*keys)
        .agg(*phase2)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    salt_buckets: int = 8,
    how: str = "inner",
    salt_expr: Column | None = None,
) -> DataFrame:
    """Skew-salted equi-join: fan one hot key out over ``salt_buckets``
    reducers by salting the big (left) side and replicating the build
    (right) side once per salt value, then joining on (key, salt).

    The companion of :func:`salted_aggregate` for the join case — the
    classic fix when a SINGLE key dominates beyond what AQE's skew-split
    thresholds catch (AQE splits oversized partitions, but a partition
    that is one hot key's hash bucket can only split if the join key set
    is widened — which is exactly what the salt does).  Cost: the right
    side shuffles ``salt_buckets``× its size; use it when right ≪ left
    but too big (or too mid) to broadcast.

    CAVEAT (top billing): the default salt is ``xxhash64`` over all left
    columns, so LITERALLY-DUPLICATE rows (common in logs) get identical
    salts and a hot key made of duplicates stays on ONE reducer — pass a
    per-row-unique ``salt_expr`` (e.g. over a row id) to actually split
    it.  ``salt_expr`` should be a deterministic per-ROW expression that
    VARIES WITHIN a key; it is wrapped in ``pmod(.., salt_buckets)``
    here, so out-of-range values cannot silently drop (inner) or
    mis-null (left) rows — result-invariance holds for any integer
    expression.  Result is identical to the unsalted join for ``inner``
    and ``left`` (each left row carries exactly one salt and the
    replicated right covers every salt), asserted in tests and by the
    declared query's oracle.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(
        salt_expr
        if salt_expr is not None
        else F.xxhash64(*[F.col(c) for c in left.columns]),
        F.lit(salt_buckets),
    )
    lsalted = left.withColumn("_salt", salt.cast("int"))
    replicas = left.sparkSession.range(salt_buckets).select(
        F.col("id").cast("int").alias("_salt")
    )
    rsalted = right.crossJoin(F.broadcast(replicas))
    return lsalted.join(rsalted, [on, "_salt"], how).drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    *,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a hash-bucketed (optionally sorted) table.

    Joins/aggregations on ``bucket_cols`` between tables bucketed the same
    way run with ZERO shuffle exchange (asserted in tests/test_plans.py) —
    the 100 TB pattern for repeatedly-joined fact tables, and the direct
    analog of the reference's dkey-per-reduce-partition layout.

    The files go to a fresh ``scratch.run_dir`` path, removed when the
    process exits; the table itself lives in the session's in-memory
    catalog.  Rewriting ``table_name`` repoints it at new files, so
    neither a rerun nor another session over the same checkout sees
    older output, and nothing lands in the shared warehouse dir.
    """
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table_name}")
    path = run_dir(f"bucketed_{table_name}")
    writer = df.write.option("path", path).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def broadcast_if_small(df: DataFrame, *, force: bool = False) -> DataFrame | Column:
    """Mark a dimension side for broadcast (exchange elimination)."""
    return F.broadcast(df) if force else df
