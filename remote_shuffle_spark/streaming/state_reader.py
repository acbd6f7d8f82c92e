"""Offline state-store inspection — Spark 4's ``statestore`` /
``state-metadata`` batch data sources over a streaming checkpoint.

The ops story the durability layer (plans/shuffle_policy.checkpoint_to)
needs on the STREAMING side: when a production stream misbehaves, you
read its state out of the checkpoint as a DataFrame — no replay, no
debugger in the executor — and join it against the input to find the
stuck key.  The reference's analog is inspecting committed shuffle/index
files out-of-band (RemoteShuffleBlockResolver's on-disk layout is
readable without the job that wrote it); here the committed artifact is
the state store and Spark 4 gives it a reader.

``dedup_state_snapshot`` runs a checkpointed first-arrival dedup over the
ordered event split, stops the query, and reads the RETAINED KEY SET
back from the checkpoint with the batch reader — the state of a
``dropDuplicates`` stream is exactly the distinct key set, so the
offline read is oracle-checkable against batch DISTINCT.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.scratch import run_dir
from remote_shuffle_spark.sources.local import local_frame
from remote_shuffle_spark.streaming.run import run_to_completion


def read_state_keys(spark: SparkSession, checkpoint: str, key_cols: list[str]) -> DataFrame:
    """Batch-read a streaming checkpoint's state store and project the
    key struct's fields as plain columns."""
    st = spark.read.format("statestore").load(checkpoint)
    return st.select(*[F.col(f"key.{c}").alias(c) for c in key_cols])


def state_operator_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """The checkpoint's operator inventory (operator/state-store names,
    partition counts, batch id range) via the state-metadata source."""
    return spark.read.format("state-metadata").load(checkpoint)


def dedup_state_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed streaming dedup on user_id, then an OFFLINE read of
    the retained state keys.  Returns (user_id) rows == batch DISTINCT.
    No watermark: on a key without the event time it would expire no
    state, and each advance of it would only add an idle no-data batch.
    Also sanity-asserts the state-metadata inventory (one dedup operator
    with the configured shuffle-partition count) so the metadata source
    is exercised, not just imported."""
    from remote_shuffle_spark.streaming.latedrop import (
        _ordered_events,
        late_split_dir,
    )
    from remote_shuffle_spark.streaming.source import stream_session

    split = late_split_dir(spark, sf_dir, late_every=None)
    schema = _ordered_events(spark, sf_dir).schema
    s2 = stream_session(spark)
    ckpt = run_dir("ssr")
    stream = (
        s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split)
        .dropDuplicates(["user_id"])
        .select("user_id")
    )
    try:
        run_to_completion(stream, sink="noop", options={"checkpointLocation": ckpt})
        meta = state_operator_metadata(spark, ckpt).collect()
        if len(meta) != 1 or meta[0].operatorName != "dedupe":
            raise RuntimeError(f"unexpected state operator metadata: {meta}")
        if meta[0].numPartitions != int(s2.conf.get("spark.sql.shuffle.partitions")):
            raise RuntimeError(f"state partition count mismatch: {meta}")
        # materialize the key set BEFORE removing the checkpoint (the
        # statestore read is lazy over its files); keys are the state's
        # distinct user_ids — bounded driver data by construction
        keys = read_state_keys(spark, ckpt, ["user_id"]).collect()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return local_frame(spark, keys, "user_id long").orderBy("user_id")
