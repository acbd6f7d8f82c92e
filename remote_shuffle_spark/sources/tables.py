"""Parquet table sources for the driver-generated fixtures (TESTDATA.md).

The reference plugin has no scan layer — its only "source/sink" is the
shuffle store itself (SURVEY.md §2.3).  Our engine's sources are Spark's
native columnar parquet reader: vectorized, predicate-pushdown and
column-pruning capable, partition-splittable via
``spark.sql.files.maxPartitionBytes`` — exactly the properties that matter
when the same tables are 100 TB on an object store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from remote_shuffle_spark.scratch import file_stamp

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_defaults(spark: SparkSession) -> None:
    """Set the session-level confs the declared queries depend on.

    The driver harness may hand us a SparkSession built without our
    EngineConfig; these are all runtime-settable SQL confs, and each is
    required for correctness (not tuning): nanosAsLong makes the
    ns-timestamp events table readable at all; UTC pins timestamp
    rendering/extraction to match the DuckDB oracle (which runs UTC).
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked-down conf beats a crash here
            pass


# The confs that change the types Spark's parquet reader infers from a
# footer: a memoized schema is valid only for the values it was inferred
# under.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMAS: dict[tuple, StructType] = {}


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``, inferred
    once per file version and type-conversion confs.

    Inference reads the footer through a Spark job (one driver round trip
    per read); a read given this schema runs none.  The memo is keyed on
    the file's (realpath, size, mtime) and the session's values of
    ``_SCHEMA_CONFS``, so it survives a session restart and cloned
    sessions, and re-infers for a rewritten file or a session that
    converts types differently.  Only the schema is shared (callers must
    not mutate it): every read is a fresh relation with its own attribute
    ids, so a self-join of two reads still resolves."""
    ensure_session_defaults(spark)
    key = (file_stamp(path), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    schema = table_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and schema["ts"].dataType == LongType():
        # events.ts is parquet TIMESTAMP(NANOS) — Spark reads it as an
        # epoch-nanos long under spark.sql.legacy.parquet.nanosAsLong;
        # floor-divide to micros (matches DuckDB's ns→us truncation) and
        # surface it as TIMESTAMP_NTZ like the other tables' ms timestamps.
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL and DataFrame code mix."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
