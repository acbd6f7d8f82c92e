"""Structured Streaming demo over the events table (EXT).

The reference is batch-shuffle only (SURVEY §2.3 — zero streaming code),
so this is a north-star extension: tumbling-window aggregation with a
watermark, run as a real ``readStream`` → ``writeStream`` pipeline (the
parquet directory stands in for a stream source, exactly like the
reference's tests used ``file://`` as the "remote" filesystem).

The result of a complete-mode windowed aggregation over a finite input
equals the batch GROUP BY time_bucket — which is what the DuckDB oracle
checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.tables import table_path, table_schema
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import (
    event_time,
    file_stream_dir,
    stream_session,
)


def windowed_event_counts(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window per-event-type counts + exact value sums.

    Returns a batch DataFrame (the drained memory-sink table) with columns
    (window_start string, event_type, n, sum_value) — deterministic and
    oracle-comparable.
    """
    agg, scoped = windowed_event_agg(spark, sf_dir, window=window, watermark=watermark)
    table = run_to_completion(agg, mode="complete").table
    return _project_windows(scoped.table(table))


def windowed_event_agg(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "5 minutes",
    watermark: str = "1 hour",
):
    """The streaming windowed aggregation FRAME (not yet drained) +
    the scoped session that owns it — shared by every sink flavor
    (memory drain above, parquet sinks in streaming.sink)."""
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(scoped, path)
    # the file-stream source requires a directory: expose the single
    # fixture file through a symlink dir (testdata itself is read-only)
    stream_dir = file_stream_dir(path)
    stream = scoped.readStream.schema(schema).parquet(stream_dir)
    ts = event_time(schema["ts"].dataType.simpleString())
    agg = (
        stream.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )
    return agg, scoped


def _project_windows(out: DataFrame) -> DataFrame:
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    ).orderBy("window_start", "event_type")


def windowed_event_counts_filesink(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Same windowed aggregation driven through the PRODUCTION sink
    (streaming.sink.drain_complete_to_parquet: foreachBatch + idempotent
    parquet overwrite, executor-side writes) and read back from the files
    — the ship-path counterpart of the memory-sink backfill above, with
    the identical result contract (same oracle)."""
    from remote_shuffle_spark.streaming.sink import drain_complete_to_parquet

    agg, scoped = windowed_event_agg(spark, sf_dir, window=window, watermark=watermark)
    out_dir = drain_complete_to_parquet(agg)
    return _project_windows(scoped.read.parquet(out_dir))


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    gap: str = "30 minutes",
    gap_expr=None,
    watermark: str = "2 hours",
) -> DataFrame:
    """NATIVE streaming session windows (``F.session_window`` under
    append mode) — the built-in merging-session state operator, next to
    the hand-rolled applyInPandasWithState sessionizer.  Append mode
    emits a session only when the watermark FINALIZES it (no more
    events can merge in), so with the fixture as one micro-batch plus
    Spark's no-data eviction batch the emitted set is a pure function
    of the input:

        session emitted  iff  session_end (= last event + gap) <
                              max(ts) - watermark_delay

    (boundary tie-free on the fixtures, asserted in tests; unfinalized
    tail sessions stay in state exactly as a live stream would keep
    them mergeable).  Returns (user_id, session_start, session_end,
    n_events) as formatted strings/longs, batch-oracle-comparable."""
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(scoped, path)
    stream = (
        scoped.readStream.schema(schema)
        .parquet(file_stream_dir(path))
        .withColumn("ts", event_time(schema["ts"].dataType.simpleString()))
        .withWatermark("ts", watermark)
    )
    # gap_expr (a per-event Column, e.g. event-type-dependent timeouts)
    # selects the DYNAMIC-gap form; session end is then max(ts + gap)
    # over members, and append-mode finalization stays end <= watermark
    # (inclusive), identical to the static-gap eviction boundary.
    agg = stream.groupBy(
        "user_id",
        F.session_window("ts", gap_expr if gap_expr is not None else gap).alias(
            "sw"
        ),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return (
        scoped.table(run_to_completion(agg).table)
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
