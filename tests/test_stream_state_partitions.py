"""A stream's state partitions follow its parent session.

``streaming/source.stream_session`` clones the parent session with the
parent's ``spark.sql.shuffle.partitions`` (``EngineConfig.shuffle_partitions``),
so every stateful stage commits in one wave of tasks.  The answer must not
depend on that count, and the checkpoint's state-metadata must record it.
"""

from __future__ import annotations

import shutil

import pytest

from remote_shuffle_spark.scratch import run_dir
from remote_shuffle_spark.sources.tables import load_table, table_path, table_schema
from remote_shuffle_spark.streaming.dedup import streaming_distinct
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import file_stream_dir, stream_session
from remote_shuffle_spark.streaming.state_reader import (
    dedup_state_snapshot,
    state_operator_metadata,
)


def _parent(spark, n: int):
    parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", str(n))
    return parent


def test_streaming_distinct_is_independent_of_the_partition_count(spark, sf_smoke):
    one = streaming_distinct(_parent(spark, 1), sf_smoke).collect()
    eight = streaming_distinct(_parent(spark, 8), sf_smoke).collect()
    assert one and one == eight


@pytest.mark.parametrize("n", [1, 3])
def test_state_partitions_follow_the_parent_session(spark, sf_smoke, n):
    scoped = stream_session(_parent(spark, n))
    assert scoped.conf.get("spark.sql.shuffle.partitions") == str(n)
    path = table_path(sf_smoke, "events")
    stream = (
        scoped.readStream.schema(table_schema(scoped, path))
        .parquet(file_stream_dir(path))
        .dropDuplicates(["user_id"])
        .select("user_id")
    )
    ckpt = run_dir("state_parts")
    try:
        run_to_completion(stream, sink="noop", options={"checkpointLocation": ckpt})
        meta = state_operator_metadata(spark, ckpt).collect()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    assert [(m.operatorName, m.numPartitions) for m in meta] == [("dedupe", n)]


def test_state_snapshot_checks_the_session_partition_count(spark, sf_smoke):
    """``dedup_state_snapshot`` raises on a state partition count other
    than its session's; under a 2-partition parent it reads back exactly
    the batch DISTINCT key set."""
    got = [r.user_id for r in dedup_state_snapshot(_parent(spark, 2), sf_smoke).collect()]
    want = [
        r.user_id
        for r in load_table(spark, sf_smoke, "events")
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .collect()
    ]
    assert got == want


def test_parent_without_the_key_gets_default_parallelism(spark):
    """A parent that never set ``spark.sql.shuffle.partitions`` (a driver's
    vanilla session) hands over ``min(200, defaultParallelism)``, not
    Spark's built-in 200 state stores per stateful stage."""
    parent = spark.newSession()
    parent.conf.unset("spark.sql.shuffle.partitions")
    assert "spark.sql.shuffle.partitions" not in parent.conf.getAll
    scoped = stream_session(parent)
    want = min(200, spark.sparkContext.defaultParallelism)
    assert scoped.conf.get("spark.sql.shuffle.partitions") == str(want)
