"""The one store behind every persisted index (MinHash band index,
inverted index, IVF codes and model tables).

An index is a parquet directory committed under
:mod:`shuffle_policy`'s protocol: a manifest lists every data file with
its size, and every read verifies the directory against it — a lost,
resized or unlisted part file raises :class:`CheckpointIntegrityError`
instead of silently shrinking the index (the reference's
writeIndexFileAndCommit: data without an index entry does not exist, an
entry without data is an error).  The manifest also records the index's
layout once, at build time; appends and compactions read it back, so
every generation is written the way the first one was:

- :func:`by_range` ``(key, files)``: ``repartitionByRange(files, key)``
  plus an in-file sort on ``key`` — tight min/max footers, so a small
  probe skips most files on statistics alone;
- :func:`by_partition` ``(col, *sort)``: ``repartition(col)`` plus an
  in-file sort on ``sort``, written ``partitionBy(col)`` — one directory
  per value, so a probe prunes by directory listing;
- ``None``: a plain table (model tables).

Every mutation holds the path's commit lock and runs verify → write →
re-list → atomic manifest replace, so a file lost before an append
raises rather than being recorded as if it never existed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.plans.shuffle_policy import (
    _commit_lock,
    _verify_manifest,
    _write_manifest,
)

def by_range(key: str, files: int) -> dict:
    return {"kind": "range", "key": key, "files": files}


def by_partition(col: str, *sort: str) -> dict:
    return {"kind": "partition", "col": col, "sort": list(sort)}


def _writer(df: DataFrame, layout: dict | None) -> DataFrameWriter:
    if layout is None:
        return df.write
    if layout["kind"] == "range":
        key = layout["key"]
        return df.repartitionByRange(layout["files"], key).sortWithinPartitions(key).write
    col = layout["col"]
    # ``col`` leads the sort: the partitioned writer needs its input
    # ordered by ``col`` and, when it is not, re-sorts on ``col`` alone,
    # losing the in-file order
    return df.repartition(col).sortWithinPartitions(col, *layout["sort"]).write.partitionBy(col)


def write_index(df: DataFrame, path: str, *, layout: dict | None) -> None:
    """Build (or replace) the index at ``path`` with ``layout``."""
    spark = df.sparkSession
    with _commit_lock(path):
        _writer(df, layout).mode("overwrite").parquet(path)
        _write_manifest(spark, path, layout=layout)


def append_index(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Append ``df`` as a new generation, laid out as the index was built."""
    with _commit_lock(path):
        layout = _verify_manifest(spark, path, required=True)["layout"]
        _writer(df, layout).mode("append").parquet(path)
        _write_manifest(spark, path, layout=layout)


def compact_index(spark: SparkSession, path: str, parts: list | None = None) -> None:
    """Rewrite the index's accumulated generations in its layout.  For a
    partitioned index ``parts`` limits the rewrite to those partition
    values: a dynamic partition overwrite replaces only the directories
    it writes, so every other partition's files stay byte-identical.
    The rewritten rows are materialized before the overwrite starts, so
    the write never reads the path it replaces."""
    with _commit_lock(path):
        layout = _verify_manifest(spark, path, required=True)["layout"]
        df = spark.read.parquet(path)
        if parts is not None:
            df = df.filter(F.col(layout["col"]).isin(list(parts)))
        writer = _writer(df.localCheckpoint(eager=True), layout).mode("overwrite")
        if layout is not None and layout["kind"] == "partition":
            writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.parquet(path)
        _write_manifest(spark, path, layout=layout)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The index at ``path``, once its files match its manifest."""
    _verify_manifest(spark, path, required=True)
    return spark.read.parquet(path)
