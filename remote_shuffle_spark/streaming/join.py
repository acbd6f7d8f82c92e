"""Stream-stream time-bounded join (EXT) — the last of Spark's streaming
join surfaces alongside windowed aggregation, dedup, sessionization, and
stream-static enrichment (the reference has zero streaming; SURVEY §2.3).

The canonical shape: attribute each purchase to the views that preceded
it within an attribution horizon.  Both sides are streams; Spark keeps a
watermark-bounded state store per side and emits a row the micro-batch
both halves have arrived in.  The event-time range condition is what lets
the engine EVICT state — without it (or without watermarks) the state
grows forever, which is the #1 production streaming-join failure; at
100 TB/day the horizon bounds state to horizon × arrival-rate per side.
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


def _attribution_join(
    spark: SparkSession, sf_dir: str, how: str, horizon_minutes: float, watermark: str
) -> DataFrame:
    """views ⋈ purchases per user within the horizon band, joined ``how``,
    drained and returned as (user_id, view_id, purchase_id)."""
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(scoped, path)
    stream_dir = file_stream_dir(path)

    def _side(kind: str, prefix: str) -> DataFrame:
        s = (
            scoped.readStream.schema(schema)
            .parquet(stream_dir)
            .withColumn("ts", event_time(schema["ts"].dataType.simpleString()))
            .filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )
        return s.withWatermark(f"{prefix}_ts", watermark)

    views = _side("view", "v")
    purchases = _side("purchase", "p")
    horizon = f"interval {int(horizon_minutes * 60)} seconds"
    user = F.col("v_user")
    if how == "full_outer":
        user = F.coalesce(user, F.col("p_user"))
    joined = views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + {horizon}"
        ),
        how,
    ).select(
        user.alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
    )
    table = run_to_completion(joined).table
    return scoped.table(table).orderBy("view_id", "purchase_id")


def view_purchase_attribution(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon_minutes: float = 60.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """views ⋈ purchases per user within ``horizon_minutes``: inner
    stream-stream join with watermarks on both sides and the event-time
    band ``view.ts <= purchase.ts <= view.ts + horizon`` as a join
    condition (state eviction bound).  Returns the drained result
    (user_id, view_id, purchase_id), oracle-comparable to the batch
    self-join over the same finite input.
    """
    return _attribution_join(spark, sf_dir, "inner", horizon_minutes, watermark)


def view_purchase_attribution_outer(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon_minutes: float = 60.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every view gets its in-horizon
    purchases, and a view with NO purchase emits a null-extended row —
    but only once the watermark passes its join window (state eviction
    is what PRODUCES outer results in a stream; a row still in state at
    stream end never emits its null).  With the whole fixture as one
    micro-batch, the final watermark is ``max(ts) - watermark`` and
    Spark's no-data batch after it performs the eviction, so the
    null-emission set is a pure function of the input:

        unmatched view emits null  iff  v_ts + horizon <= final_watermark - 1ms

    where final_watermark = MIN over the two sides of (that side's max
    event time) - delay — each watermark operator tracks ITS OWN stream
    and the join uses the global minimum (verified empirically: the
    max-over-all-events model diverges whenever the sides' maxima
    differ), and the 1 ms subtraction is Spark's state-value-watermark
    adjustment, pinned at millisecond offsets by
    tests/test_streaming.py::test_stream_join_eviction_boundary_is_wm_minus_1ms
    (so no fixture tie-freedom is needed;
    views inside the final watermark window stay in state, exactly what
    a restarted stream would still be allowed to match).  Returns
    (user_id, view_id, purchase_id nullable).
    """
    return _attribution_join(spark, sf_dir, "left_outer", horizon_minutes, watermark)


def view_purchase_attribution_full(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon_minutes: float = 60.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """FULL OUTER stream-stream join — both unmatched sides null-emit on
    their own eviction rule, completing the stream-join family
    (inner / left_outer / full_outer):

    - unmatched VIEW emits  iff  v_ts + horizon <= final_watermark - 1ms
      (no future purchase can land in its window);
    - unmatched PURCHASE emits  iff  p_ts <= final_watermark - 1ms
      (matchable views need v_ts <= p_ts, so once the watermark passes
      p_ts no view that could match can still arrive).

    with final_watermark = MIN over sides of (own max event time) -
    delay, and the 1 ms subtraction being Spark's state-value-watermark
    adjustment (boundary-scanned at millisecond offsets in pytest — a
    window end EQUAL to the watermark stays in state, so no fixture
    tie-freedom is required).  Both rules verified empirically (single
    data batch + Spark's no-data eviction batch); the 2-row divergence
    that exposed the per-side-watermark subtlety at sf0.01 is documented
    in the query's oracle comment.  Returns
    (user_id, view_id nullable, purchase_id nullable) with user_id
    coalesced across sides."""
    return _attribution_join(spark, sf_dir, "full_outer", horizon_minutes, watermark)
