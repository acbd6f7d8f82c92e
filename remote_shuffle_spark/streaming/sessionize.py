"""Sessionization — batch and stateful-streaming variants (EXT).

Batch: the classic lag/cumsum window composition (one shuffle on the
user key).  Streaming: ``applyInPandasWithState`` with per-key session
state and processing-time timeout — the custom-stateful-operator seam
Structured Streaming provides for operators its built-ins can't express.
Both emit the same schema so a pipeline can swap them.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

SESSION_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)


def sessionize_batch(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Assign session ids: a new session starts after a gap > ``gap_minutes``.

    lag → gap flag → cumulative sum inside the user window; two window
    passes over ONE shuffle (same partitioning reused — Catalyst plans a
    single exchange on user_id).
    """
    w = W.partitionBy(user_col).orderBy(ts_col)
    gap_us = int(gap_minutes * 60 * 1_000_000)
    prev = F.lag(ts_col).over(w)
    new_session = (
        prev.isNull()
        | (F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(prev.cast("timestamp")) > gap_us)
    ).cast("long")
    with_sid = events.withColumn("session_id", F.sum(new_session).over(w))
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


def sessionize_streaming(
    events_stream: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    use_processing_time_timeout: bool = False,
) -> DataFrame:
    """Stateful streaming sessionization via ``applyInPandasWithState``.

    State per user: (open session start, last event ts, count, next
    session ordinal).  Emits a row per CLOSED session; open sessions
    close on gap — and, in a real always-on deployment, on
    processing-time timeout (``use_processing_time_timeout=True``).
    The session ordinal lives in the state tuple so ids keep counting
    up across micro-batches (matching ``sessionize_batch``'s monotone
    cumsum) instead of restarting at 1 every trigger.  The default is NoTimeout
    because timeout cleanup passes re-arm on every trigger, so a bounded
    drain via ``processAllAvailable`` (tests, backfills) never converges
    with ProcessingTimeTimeout enabled.
    This is the custom stateful operator shape (SURVEY §2.3 — absent in
    the reference, EXT for the engine): at scale, state lives in the
    state store (RocksDB provider in prod), partitioned by the group key.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_minutes * 60 * 1_000_000)

    def proc(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            start_us, last_us, count, next_sid = state.get
            if count == 0:
                start_us, last_us = None, None
        else:
            start_us, last_us, count, next_sid = None, None, 0, 1
        closed: list[tuple[int, int, int, int, int]] = []
        rows = []
        for pdf in pdfs:
            for t in pdf[ts_col]:
                rows.append(int(t.value // 1000))  # pandas ns → us
        rows.sort()
        for t_us in rows:
            if last_us is None:
                start_us, last_us, count = t_us, t_us, 1
            elif t_us - last_us > gap_us:
                closed.append((user, next_sid, count, start_us, last_us))
                next_sid += 1
                start_us, last_us, count = t_us, t_us, 1
            else:
                last_us, count = t_us, count + 1
        if state.hasTimedOut and last_us is not None:
            closed.append((user, next_sid, count, start_us, last_us))
            state.remove()
        else:
            state.update((start_us or 0, last_us or 0, count, next_sid))
            if use_processing_time_timeout:
                state.setTimeoutDuration(int(gap_minutes * 60 * 1000))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_id": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "session_start": [pd.Timestamp(c[3], unit="us") for c in closed],
                    "session_end": [pd.Timestamp(c[4], unit="us") for c in closed],
                }
            )

    return events_stream.groupBy(user_col).applyInPandasWithState(
        proc,
        outputStructType=SESSION_SCHEMA,
        stateStructType="session_start_us bigint, last_us bigint, n bigint, next_sid bigint",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_processing_time_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def sessionize_streaming_table(
    spark,
    sf_dir: str,
    *,
    gap_minutes: float = 30.0,
) -> DataFrame:
    """Run the stateful streaming sessionizer over the events fixture as a
    real readStream → memory-sink pipeline and return the drained result
    (all CLOSED sessions; each user's final still-open session stays in
    state).  Because session ordinals live in state and continue across
    micro-batches, the emitted (user, session_id, bounds, count) rows
    equal batch sessionization minus each user's last session — which is
    SQL-expressible, so this custom stateful operator is oracle-checkable.
    """
    from remote_shuffle_spark.sources.tables import table_path, table_schema
    from remote_shuffle_spark.streaming.run import run_to_completion
    from remote_shuffle_spark.streaming.source import (
        event_time,
        file_stream_dir,
        stream_session,
    )

    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    schema = table_schema(scoped, path)
    stream_dir = file_stream_dir(path)
    stream = (
        scoped.readStream.schema(schema)
        .parquet(stream_dir)
        .withColumn("ts", event_time(schema["ts"].dataType.simpleString()))
    )
    out = sessionize_streaming(stream, gap_minutes=gap_minutes)
    table = run_to_completion(out).table
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        scoped.table(table)
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.date_format("session_start", fmt).alias("session_start"),
            F.date_format("session_end", fmt).alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )
