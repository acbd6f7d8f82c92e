"""Production sink drains for the streaming queries (EXT).

The memory sink the declared streaming queries drain through collects
results to the driver.  This module is the ship path — the same streaming
frames driven into PARQUET on shared storage:

- ``append``-mode frames (stateful emissions, watermark-closed windows)
  go through Spark's native parquet sink: executor-side writes,
  exactly-once via the sink's own log + checkpoint, nothing ever
  driver-resident.
- ``complete``/``update``-mode aggregations go through ``foreachBatch``
  with an idempotent whole-target overwrite — the canonical recipe for
  sinks without streaming upsert support (Structured Streaming
  re-delivers a batch id after failure; overwrite makes redelivery a
  no-op).  Each micro-batch rewrite costs O(result), which for a windowed
  aggregation is the (windows × keys) table, ≪ the corpus; a real
  deployment points the same callback at a MERGE-capable table format
  (the operators/upsert.py seam) for O(delta) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from remote_shuffle_spark.scratch import run_dir
from remote_shuffle_spark.streaming.run import run_to_completion


def drain_append_to_parquet(stream_df: DataFrame, *, out_dir: str | None = None) -> str:
    """Drive an append-mode streaming frame into the native parquet sink.

    Returns the output directory (read it back with ``spark.read.parquet``).
    Executor-side writes; the sink's file log + the checkpoint give
    exactly-once for the finite backfill.
    """
    out = out_dir or run_dir("sink_append")
    run_to_completion(
        stream_df,
        sink="parquet",
        options={"path": out, "checkpointLocation": run_dir("sink_ckpt")},
    )
    return out


def drain_complete_to_parquet(stream_df: DataFrame, *, out_dir: str | None = None) -> str:
    """Drive a complete-mode streaming aggregation into parquet via
    ``foreachBatch`` + idempotent whole-target overwrite.

    Returns the output directory holding the FINAL result (each batch
    rewrites it; the last rewrite wins, and a redelivered batch id
    rewrites the same bytes — idempotent).
    """
    out = out_dir or run_dir("sink_complete")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out)

    run_to_completion(
        stream_df,
        mode="complete",
        sink=_write,
        options={"checkpointLocation": run_dir("sink_ckpt")},
    )
    return out
