"""Stream-static broadcast enrichment (EXT).

The most common production streaming shape after windowed aggregation:
an event stream joined against a slowly-changing dimension table to tag
each event with business attributes before aggregating.  Spark plans a
stream-static equi-join as a per-micro-batch join against the static
side; explicitly broadcasting the dimension keeps it that way at scale
(no stateful join, no stream-side shuffle for the join itself — the
dimension rides along to every executor once per plan, exactly how a
1000-executor cluster wants a few-MB dim table handled, and the only
exchange left is the aggregation's own).

Reference parity: the reference has zero streaming (SURVEY §2.3); this
extends the engine's streaming surface alongside windowed.py/dedup.py/
sessionize.py.  The oracle is the batch join+aggregate over the same
finite input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.tables import load_table, table_path, table_schema
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import file_stream_dir, stream_session


def enriched_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment event counts: stream(events) ⋈ broadcast dim.

    Each event's user maps to a customer row (``user_id + 1 ==
    c_custkey`` in the fixture's key space); the customer dimension is
    broadcast into the per-micro-batch join, then a complete-mode
    aggregation counts events and sums value per segment.  Returns the
    drained batch DataFrame (c_mktsegment, n, sum_value), deterministic
    and oracle-comparable against the batch equivalent.
    """
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    stream = scoped.readStream.schema(table_schema(scoped, path)).parquet(file_stream_dir(path))

    dim = (
        load_table(scoped, sf_dir, "customer")
        .select(
            (F.col("c_custkey") - 1).alias("user_id"),
            "c_mktsegment",
        )
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "inner")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )
    table = run_to_completion(agg, mode="complete").table
    return scoped.table(table).orderBy("c_mktsegment")
