"""streaming/run.py: run_to_completion drains under each trigger and leaves
no live stream in the session on any exit path."""

from __future__ import annotations

import pytest

from remote_shuffle_spark.streaming import run as stream_run
from remote_shuffle_spark.streaming.run import run_to_completion


@pytest.fixture
def id_stream(spark, tmp_path):
    """A two-file stream of ids 0..19, one file per micro-batch."""
    src = str(tmp_path / "src")
    for lo in (0, 10):
        spark.range(lo, lo + 10).coalesce(1).write.mode("append").parquet(src)
    return spark.readStream.schema("id long").option("maxFilesPerTrigger", "1").parquet(src)


def _ids(spark, table):
    return sorted(r.id for r in spark.table(table).collect())


@pytest.mark.parametrize("available_now", [False, True])
def test_drains_to_completion(spark, id_stream, available_now):
    run = run_to_completion(id_stream, available_now=available_now)
    assert _ids(spark, run.table) == list(range(20))
    assert sum(p["numInputRows"] for p in run.progress) == 20
    assert id_stream.sparkSession.streams.active == []


def test_poll_then_stop(spark, id_stream):
    run = run_to_completion(
        id_stream, settled=lambda t: spark.table(t).count() == 20
    )
    assert _ids(spark, run.table) == list(range(20))
    assert id_stream.sparkSession.streams.active == []


def test_foreach_batch_failure_stops_query(spark, id_stream, tmp_path):
    def boom(batch_df, batch_id):
        raise RuntimeError("sink failed")

    with pytest.raises(Exception, match="sink failed"):
        run_to_completion(
            id_stream, sink=boom, options={"checkpointLocation": str(tmp_path / "ck")}
        )
    assert id_stream.sparkSession.streams.active == []


def test_unsettled_poll_times_out(spark, id_stream, monkeypatch):
    monkeypatch.setattr(stream_run, "TIMEOUT_S", 2.0)
    with pytest.raises(TimeoutError):
        run_to_completion(id_stream, settled=lambda t: False)
    assert id_stream.sparkSession.streams.active == []
