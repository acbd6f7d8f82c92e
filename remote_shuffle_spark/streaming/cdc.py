"""Streaming CDC ingest: changelog micro-batches MERGEd into versioned
parquet snapshots (EXT — the reference ships no streaming layer; this is
the Structured-Streaming ingestion pattern its Spark-SQL workloads feed
from, reference README positioning per SURVEY §0).

Each micro-batch is reduced to its latest row per key and merged into the
current snapshot with ``operators.upsert.merge_upsert_ordered`` —
latest-(ts, id)-wins — so the final table is INDEPENDENT of how the
changelog was split into batches or which order they arrived.  That is
the property that makes the ingest restartable and backfillable: Spark's
file source lists files in no guaranteed time order, and a redelivered
batch id rewrites its own snapshot version from the same predecessor
(deterministic inputs → byte-identical rewrite → idempotent).

Snapshots are whole-directory versions (``v00000000``, ``v00000001``, …)
— the plain-parquet emulation of a table format's snapshot chain, same
trade as operators/upsert.py documents: every batch rewrites O(keys),
not O(batch); a MERGE-capable format (Delta/Iceberg seam, sources.io)
would make it O(delta).  The snapshot is keyed-data-sized (distinct
keys), ≪ the stream, so the rewrite cost is bounded by key cardinality.

To make the multi-batch path REAL under a single-file fixture, the
fixture is split once (deterministically, ``pmod(event_id, n)``) into n
parquet files in a content-keyed scratch dir; ``maxFilesPerTrigger=1``
then yields n true micro-batches, each spanning the whole time range —
deliberately NOT time-ordered batches, which is exactly what the
order-aware merge must absorb.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from remote_shuffle_spark.operators.upsert import merge_upsert_ordered
from remote_shuffle_spark.scratch import cached_dir, run_dir
from remote_shuffle_spark.sources.tables import table_path, table_schema
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import event_time, stream_session
from remote_shuffle_spark.streaming.splitutil import materialize_split_files


def split_stream_dir(spark: SparkSession, path: str, *, n_splits: int = 4) -> str:
    """Split one parquet file into ``n_splits`` files for the file-stream
    source, so a single-file fixture still exercises multiple
    micro-batches.  Keyed on the source realpath PLUS its file
    (name, size, mtime) set — unlike ``source.file_stream_dir``'s
    symlink (which always resolves to current data) this COPIES the
    fixture, so a fixture regenerated in place must invalidate the
    cached split rather than silently replaying stale rows.  Built once,
    atomically (tmp dir + rename), reused while the source is unchanged."""
    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1, got {n_splits}")
    real = os.path.realpath(path)
    if os.path.isdir(real):
        stats = sorted(
            (f, st.st_size, st.st_mtime_ns)
            for f in os.listdir(real)
            if not f.startswith((".", "_"))
            for st in (os.stat(os.path.join(real, f)),)
        )
    else:
        st = os.stat(real)
        stats = [(os.path.basename(real), st.st_size, st.st_mtime_ns)]

    def build(tmp: str) -> None:
        reader = spark.read if os.path.isdir(real) else spark.read.schema(table_schema(spark, real))
        df = reader.parquet(real)
        materialize_split_files(
            [df.filter(F.pmod(F.col("event_id"), F.lit(n_splits)) == i) for i in range(n_splits)],
            tmp,
        )

    return cached_dir("cdc_split", (real, n_splits, stats), build)


def _latest_per_key(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def streaming_cdc_upsert(
    spark: SparkSession,
    sf_dir: str,
    *,
    key: str = "user_id",
    n_splits: int = 4,
) -> DataFrame:
    """Run the events changelog through a real readStream → foreachBatch
    CDC merge and return the final snapshot: one row per ``key`` holding
    the latest event's (id, type, value).

    Returns columns (user_id, last_event_id, last_event_type,
    last_value), ordered by user_id — oracle-comparable against the
    batch window equivalent.
    """
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(scoped, path)
    ts = event_time(schema["ts"].dataType.simpleString())
    split_dir = split_stream_dir(scoped, path, n_splits=n_splits)
    stream = (
        scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
        .select("event_id", ts.alias("ts"), F.col(key), "event_type", "value")
    )

    root = run_dir("cdc")
    os.makedirs(root)
    order_cols = ["ts", "event_id"]

    def _versions() -> list[str]:
        return sorted(d for d in os.listdir(root) if d.startswith("v"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_per_key(batch_df, key, order_cols)
        # predecessor = the latest snapshot with a version id STRICTLY
        # below this batch id — a redelivered batch must not read its own
        # (possibly partial) previous write
        prev = [v for v in _versions() if int(v[1:]) < batch_id]
        if prev:
            current = batch_df.sparkSession.read.parquet(os.path.join(root, prev[-1]))
            merged = merge_upsert_ordered(current, latest, [key], order_cols)
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(os.path.join(root, f"v{batch_id:08d}"))

    run_to_completion(
        stream, sink=_apply, options={"checkpointLocation": run_dir("cdc_ckpt")}
    )

    final = _versions()[-1]
    return (
        scoped.read.parquet(os.path.join(root, final))
        .select(
            key,
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .orderBy(key)
    )
