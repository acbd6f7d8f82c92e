"""Watermark late-data semantics, made deterministic and oracle-checkable.

Every other streaming query here chooses its watermark so nothing is ever
late (stream ≡ batch).  This one does the opposite: it drives a windowed
aggregation through a TIME-ORDERED file split whose final file re-delivers
a subset of the earliest events — deliberately late — and pins exactly
which rows the watermark DROPS.

Determinism: with ``maxFilesPerTrigger=1`` and monotonically increasing
file mtimes, the file source processes one file per micro-batch in a known
order, and Structured Streaming's global watermark for batch k is
``max(event time over batches < k) - delay``.  A late row is dropped iff
its window's END is at or below that watermark (its window's state was
evicted).  Both sides of that rule are pure functions of the fixture, so a
DuckDB oracle can reproduce the surviving row set exactly
(ext_stream_late_drop).  Boundary ties (window_end == watermark) are
excluded by construction on the fixture and asserted in
tests/test_streaming.py — the eviction comparison's <=/< choice can never
matter here.

MECHANISM (round-6 boundary scans, tests/test_streaming.py): update-mode
aggregation does NOT filter late input rows — a late row whose window
state is still LIVE merges into it regardless of the watermark; the
"drop" is produced by state EVICTION (end-of-batch, using that batch's
OPERATIVE watermark, i.e. computed from strictly earlier batches)
followed by the re-created single-row window being absorbed by the
query's MAX-over-update-emissions.  The oracle's per-arrival watermark is
therefore exact here because the re-routed rows all originate in batch 0,
far below both candidate watermarks — the model is safe BY CONSTRUCTION,
not merely by tie-freedom.

The reference is batch-only (SURVEY §2.3); this is EXT streaming surface:
the part of watermarking the stream≡batch queries can't exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.scratch import cached_dir, file_stamp
from remote_shuffle_spark.sources.tables import load_table, table_path
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import event_time, stream_session
from remote_shuffle_spark.streaming.splitutil import materialize_split_files


def _ordered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dtype = dict(ev.dtypes).get("ts")
    return ev.select(
        "event_id", "user_id", "event_type", event_time(dtype).alias("ts")
    )


def assign_arrival(
    events: DataFrame, *, n_splits: int = 4, late_every: int | None = 7
) -> DataFrame:
    """Deterministic arrival-batch assignment: rows ordered by
    (ts, event_id) split into ``n_splits`` contiguous batches; every
    ``late_every``-th event_id of batch 0 is re-routed to a FINAL extra
    batch (arrival == n_splits), i.e. re-delivered after the watermark
    has advanced past it.  ``late_every=None`` disables the re-routing:
    every batch is strictly event-time-ordered (what order-sensitive
    stateful processors like FirstNPerKey require).  Pure integer
    arithmetic — reproducible by the oracle:
    batch = ((rn - 1) * n_splits) DIV total.

    DISTRIBUTED rank: the global (ts, event_id) rank comes from
    repartitionByRange on the full sort key + sortWithinPartitions + the
    two-phase per-partition-offset numbering of
    :func:`operators.pipeline.with_global_index` — NOT an unpartitioned
    ``row_number()`` window, which funnels the whole table through one
    reducer (this function is an exported operator; a 100 TB caller must
    not inherit a single-task total sort).  The rank — and therefore
    every split boundary — is bit-identical to the old global window:
    (ts, event_id) is a total order, and range partitioning on the full
    key preserves it across partitions (plan pinned single-partition-
    window-free in tests/test_streaming.py).

    NOTE: this runs ``events.count()`` eagerly at plan-build time (the
    contiguous-split formula needs the total, and the two-phase index
    counts partitions anyway); callers embedding this in a lazy pipeline
    should be aware it triggers jobs."""
    from remote_shuffle_spark.operators.pipeline import with_global_index

    total = events.count()
    # ~500k rows per range partition, uncapped below 4096: a fixed small
    # cap would quietly re-introduce a (milder) funnel on huge tables;
    # 4096 bounds the driver's per-partition count array, not the data
    n_rank_parts = max(2, min(4096, total // 500_000 + 2))
    ranked = events.repartitionByRange(
        n_rank_parts, "ts", "event_id"
    ).sortWithinPartitions("ts", "event_id")
    indexed = with_global_index(ranked, out_col="_gidx", order_by=["ts", "event_id"])
    batch = ((F.col("rn") - F.lit(1)) * n_splits / F.lit(total)).cast("int")
    assigned = (
        indexed.withColumn("rn", (F.col("_gidx") + 1).cast("int"))
        .drop("_gidx")
        .withColumn("batch", batch)
    )
    if late_every is None:
        return assigned.withColumn("arrival", F.col("batch"))
    late = (F.col("batch") == 0) & (F.pmod(F.col("event_id"), F.lit(late_every)) == 0)
    return assigned.withColumn(
        "arrival", F.when(late, F.lit(n_splits)).otherwise(F.col("batch"))
    )


def late_split_dir(
    spark: SparkSession, sf_dir: str, *, n_splits: int = 4, late_every: int | None = 7
) -> str:
    """Materialize the arrival-ordered split as one parquet file per batch
    with increasing mtimes (the file source's processing order).
    ``late_every=None`` produces a strictly time-ordered split with no
    late re-delivery (and no trailing late file).  Cached per (source
    realpath, params, file size+mtime) — a regenerated fixture
    invalidates the copy (same rule as cdc.split_stream_dir)."""
    def build(tmp: str) -> None:
        assigned = assign_arrival(
            _ordered_events(spark, sf_dir), n_splits=n_splits, late_every=late_every
        )
        n_files = n_splits if late_every is None else n_splits + 1
        materialize_split_files(
            [
                assigned.filter(F.col("arrival") == k).select(
                    "event_id", "user_id", "event_type", "ts"
                )
                for k in range(n_files)
            ],
            tmp,
        )

    real, size, mtime_ns = file_stamp(table_path(sf_dir, "events"))
    return cached_dir("latedrop", (real, n_splits, late_every, size, mtime_ns), build)


def windowed_counts_with_late_drop(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "5 minutes",
    delay: str = "30 minutes",
    n_splits: int = 4,
    late_every: int = 7,
) -> DataFrame:
    """Windowed per-type counts where the watermark REALLY drops rows.

    One file per micro-batch (ordered mtimes), UPDATE output mode to a
    memory sink; a window's final count is the max over its emitted
    updates (counts are monotone).  Returns (window_start, event_type, n)
    for the SURVIVING rows only — the oracle recomputes the drop set from
    the arrival model (see module docstring).
    """
    split = late_split_dir(spark, sf_dir, n_splits=n_splits, late_every=late_every)
    schema = _ordered_events(spark, sf_dir).schema
    s2 = stream_session(spark)
    stream = (
        s2.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(split)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("window"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    updates = s2.table(run_to_completion(agg, mode="update").table).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )
    return (
        updates.groupBy("window_start", "event_type")
        .agg(F.max("n").alias("n"))
        .orderBy("window_start", "event_type")
    )
