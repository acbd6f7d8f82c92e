"""Fixture tables read with a memoized schema (``sources.tables.table_schema``).

``load_table`` hands Spark the schema it inferred the first time it saw a
file, so a build reads no parquet footer through a Spark job.  The memo must
give exactly the schema a fresh read infers, re-infer when the file or the
session's type-conversion confs change, and never share a relation between
two reads.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, TimestampNTZType, TimestampType

import __spark_entry__ as entrymod
from perfbench.workloads import SQL_BATCH
from remote_shuffle_spark.sources.tables import TABLES, load_table, table_path, table_schema
from tests.conftest import SF_CORRECT, SF_SMOKE, jobs_in
from tests.parity import duckdb_connection


def _fresh_load(spark, sf_dir, name):
    """``load_table`` as it read before the memo: inference on every call."""
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_CORRECT])
def test_memoized_schema_matches_a_fresh_read(spark, sf_dir):
    for name in TABLES:
        path = table_path(sf_dir, name)
        assert table_schema(spark, path) == spark.read.parquet(path).schema, name
        assert load_table(spark, sf_dir, name).schema == _fresh_load(spark, sf_dir, name).schema
    assert load_table(spark, sf_dir, "events").schema["ts"].dataType == TimestampNTZType()


def test_nanos_events_ts_is_converted_from_the_memoized_schema(spark, tmp_path):
    ts = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    assert table_schema(spark, table_path(str(tmp_path), "events"))["ts"].dataType == LongType()
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == TimestampNTZType()
    epoch = datetime.datetime(1970, 1, 1)
    assert [r.ts for r in df.orderBy("event_id").collect()] == [
        epoch + datetime.timedelta(microseconds=t // 1000) for t in ts
    ]


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), path)
    assert table_schema(spark, path)["x"].dataType == LongType()
    pq.write_table(pa.table({"x": pa.array(["a", "bb", "ccc"])}), path)
    assert table_schema(spark, path)["x"].dataType == StringType()
    assert spark.read.schema(table_schema(spark, path)).parquet(path).count() == 3


def test_session_with_other_timestamp_inference_is_reinferred(spark, sf_smoke):
    assert load_table(spark, sf_smoke, "orders").schema["o_orderdate"].dataType == (
        TimestampNTZType()
    )
    ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    got = load_table(ltz, sf_smoke, "orders").schema["o_orderdate"].dataType
    assert got == TimestampType()
    assert got == ltz.read.parquet(table_path(sf_smoke, "orders")).schema["o_orderdate"].dataType


@pytest.mark.parametrize("name", [*SQL_BATCH, "ext_dedup_exact"])
def test_rebuild_runs_no_spark_job(spark, sf_smoke, name):
    build = entrymod.queries()[name]
    build(spark, sf_smoke)
    assert jobs_in(spark, lambda: build(spark, sf_smoke)) == []


def test_two_loads_self_join(spark, sf_smoke):
    a = load_table(spark, sf_smoke, "orders")
    b = load_table(spark, sf_smoke, "orders")
    got = a.join(b, a["o_custkey"] == b["o_custkey"]).count()
    want = duckdb_connection(sf_smoke).execute(
        "SELECT COUNT(*) FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey"
    ).fetchone()[0]
    assert got == want
