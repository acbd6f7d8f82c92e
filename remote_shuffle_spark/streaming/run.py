"""The one way the package runs a stream to completion.

Every streaming query starts and stops in :func:`run_to_completion`.  The
drain follows from how the query is triggered:

- **Default trigger → ``processAllAvailable``.**  Returns once every
  available input is processed and committed.  Right for any finite
  backfill whose operators settle: stateless and watermarked operators,
  and EventTime TWS (its no-data batch runs only while the watermark
  advances).
- **``available_now=True`` → wait for self-termination.**  The query
  drains its source in rate-limited micro-batches and stops on its own:
  the production shape for periodic incremental jobs, which share
  streaming's exactly-once bookkeeping without an always-on query.
- **``settled`` given → poll-then-stop.**  For ProcessingTime-mode TWS
  (TTL state, processing-time timers) ``shouldRunAnotherBatch`` is always
  true, so ``processAllAvailable`` never returns (measured: 487 empty
  micro-batches before a watchdog killed it) and AvailableNow does not
  stop either (measured: still active after 120 s with all data
  drained).  Poll until ``settled(table)`` holds and the source reports
  no pending data, then stop.

The two waiting drains give up after :data:`TIMEOUT_S`.  The query is
always stopped in ``finally``, so no exit path leaves a live stream in the
session.  A live deployment drops the drain and lets the trigger run.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame

TIMEOUT_S = 240.0


class StreamRun(NamedTuple):
    table: str | None  # memory-sink table name (None for other sinks)
    progress: list[dict]  # the stopped query's recentProgress


def run_to_completion(
    df: DataFrame,
    *,
    mode: str = "append",
    sink: str | Callable[[DataFrame, int], None] = "memory",
    options: dict[str, str] | None = None,
    available_now: bool = False,
    settled: Callable[[str], bool] | None = None,
) -> StreamRun:
    """Start ``df`` in output ``mode`` into ``sink`` (a format name, or a
    ``foreachBatch`` callable), drain it to completion and stop it.
    ``options`` are writer options (``path``, ``checkpointLocation``)."""
    writer = df.writeStream.outputMode(mode)
    table = None
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(sink)
        if sink == "memory":
            table = f"stream_{uuid.uuid4().hex[:12]}"
            writer = writer.queryName(table)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        if settled is not None:
            deadline = time.monotonic() + TIMEOUT_S
            while not (settled(table) and not q.status["isDataAvailable"]):
                if not q.isActive:
                    q.awaitTermination()  # re-raises the query's failure
                if time.monotonic() > deadline:
                    raise TimeoutError(f"stream did not settle in {TIMEOUT_S}s")
                time.sleep(1.0)
        elif available_now:
            if not q.awaitTermination(TIMEOUT_S):
                raise TimeoutError(f"AvailableNow did not stop itself in {TIMEOUT_S}s")
        else:
            q.processAllAvailable()
    finally:
        q.stop()
    return StreamRun(table, q.recentProgress)
