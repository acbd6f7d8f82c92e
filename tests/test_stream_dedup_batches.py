"""The first-arrival dedup streams run no idle micro-batch.

``streaming_distinct`` and ``dedup_state_snapshot`` deduplicate on keys
without the event time, so a watermark on ``ts`` would bound no state and
drop no row; its only effect was a no-data micro-batch each time it
advanced (state commits plus an offsets-log and a commits-log write).
Every recorded batch must now carry input, and a first arrival hours behind
the event-time frontier is still emitted.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from remote_shuffle_spark.streaming import dedup, state_reader
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import stream_session


def _recorded_runs(monkeypatch, module) -> list:
    runs = []

    def recording(*args, **kwargs):
        runs.append(run_to_completion(*args, **kwargs))
        return runs[-1]

    monkeypatch.setattr(module, "run_to_completion", recording)
    return runs


@pytest.mark.parametrize(
    "module, build",
    [
        (dedup, dedup.streaming_distinct),
        (state_reader, state_reader.dedup_state_snapshot),
    ],
    ids=["streaming_distinct", "dedup_state_snapshot"],
)
def test_dedup_stream_records_no_idle_batch(spark, sf_smoke, monkeypatch, module, build):
    runs = _recorded_runs(monkeypatch, module)
    assert build(spark, sf_smoke).count() > 0
    [run] = runs
    assert run.progress
    assert [p["batchId"] for p in run.progress if p["numInputRows"] == 0] == []


def test_late_first_arrival_is_emitted(spark, tmp_path):
    """Two micro-batches: user 1 at 03:00, then user 2's first event at
    00:00, two hours behind a 1-hour watermark set by batch 0.  The dedup
    on (user_id, event_type) emits both, with the watermark and without
    it: on keys without ``ts`` the watermark never dropped a row."""
    rows = [(1, 1, "view", datetime(2024, 1, 1, 3)), (2, 2, "view", datetime(2024, 1, 1, 0))]
    src = tmp_path / "src"
    src.mkdir()
    for k, (event_id, user_id, event_type, ts) in enumerate(rows):
        path = src / f"part-{k}.parquet"
        table = pa.table(
            {
                "event_id": pa.array([event_id], pa.int64()),
                "user_id": pa.array([user_id], pa.int64()),
                "event_type": [event_type],
                "ts": pa.array([ts], pa.timestamp("us")),
            }
        )
        pq.write_table(table, path)
        os.utime(path, ns=(10**18 + k * 10**9, 10**18 + k * 10**9))
    scoped = stream_session(spark)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    got = {}
    for watermark in ("1 hour", None):
        stream = scoped.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(src))
        if watermark:
            stream = stream.withWatermark("ts", watermark)
        run = run_to_completion(stream.dropDuplicates(["user_id", "event_type"]).select("user_id"))
        assert len([p for p in run.progress if p["numInputRows"]]) == 2
        got[watermark] = sorted(r.user_id for r in scoped.table(run.table).collect())
    assert got == {"1 hour": [1, 2], None: [1, 2]}
