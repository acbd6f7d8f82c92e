"""Streaming exact deduplication (EXT — the reference is batch-only,
SURVEY §2.3; this is the streaming face of operators/dedup.py).

``dropDuplicates`` over a ``readStream`` source keeps the first arrival
per key with state in the state store.  A watermark bounds that state
only when the dedup keys include the event-time column; on other keys
it expires nothing and drops nothing, so the plain form runs without one
(production bounds state with ``dropDuplicatesWithinWatermark`` + RocksDB
state store so the key set never grows unbounded).  Over a finite input
the retained key set equals batch DISTINCT — which is what the DuckDB
oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from remote_shuffle_spark.scratch import cached_dir, file_stamp
from remote_shuffle_spark.sources.tables import load_table, table_path, table_schema
from remote_shuffle_spark.streaming.latedrop import _ordered_events, assign_arrival
from remote_shuffle_spark.streaming.run import run_to_completion
from remote_shuffle_spark.streaming.source import file_stream_dir, stream_session
from remote_shuffle_spark.streaming.splitutil import materialize_split_files


def streaming_distinct(
    spark: SparkSession,
    sf_dir: str,
    *,
    keys: tuple[str, ...] = ("user_id", "event_type"),
) -> DataFrame:
    """First-arrival dedup of the events stream on ``keys``.

    Returns the drained memory-sink table projected to ``keys`` — one row
    per distinct key combination, deterministic, oracle-comparable.  No
    watermark: on keys without the event time it would bound no state and
    drop no late first arrival, and its only effect was one idle no-data
    micro-batch (state commits plus offset and commit log writes) each
    time it advanced.
    """
    scoped = stream_session(spark)
    path = table_path(sf_dir, "events")
    stream = scoped.readStream.schema(table_schema(scoped, path)).parquet(file_stream_dir(path))
    deduped = stream.dropDuplicates(list(keys)).select(*keys)
    return scoped.table(run_to_completion(deduped).table).orderBy(*keys)


def dup_split_dir(
    spark: SparkSession, sf_dir: str, *, n_splits: int = 4, dup_every: int = 5
) -> str:
    """Time-ordered event split WITH IN-BATCH DUPLICATE PRESSURE: file k
    holds its contiguous (ts, event_id) range plus a second copy of every
    ``dup_every``-th event of that range — so a streaming dedup operator
    has real duplicates to drop in every micro-batch (the plain ordered
    split has none; deduping it proves only the plumbing).  Cached per
    (source identity, params), same invalidation rule as
    latedrop.late_split_dir."""
    def build(tmp: str) -> None:
        assigned = assign_arrival(
            _ordered_events(spark, sf_dir), n_splits=n_splits, late_every=None
        )
        dupes = assigned.filter(F.pmod(F.col("event_id"), F.lit(dup_every)) == 0)
        with_dupes = assigned.unionAll(dupes)
        materialize_split_files(
            [
                with_dupes.filter(F.col("arrival") == k).select(
                    "event_id", "user_id", "event_type", "ts"
                )
                for k in range(n_splits)
            ],
            tmp,
        )

    real, size, mtime_ns = file_stamp(table_path(sf_dir, "events"))
    return cached_dir(
        "dupsplit", ("dup", real, n_splits, dup_every, size, mtime_ns), build
    )


def streaming_distinct_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    *,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    on event_id over the duplicate-pressure split (every 5th event
    appears twice in its micro-batch) — the PRODUCTION dedup shape this
    module's docstring has pointed at since round 3, now executed.

    Unlike ``dropDuplicates`` (state = every key ever seen, grows
    forever), state here expires once the watermark passes the key's
    event time + delay, so long-running streams hold only the last
    (delay)-window of keys — the boundedness is asserted against the
    plain variant in tests/test_streaming.py.  Semantics stay exact for
    same-event-time duplicates: a duplicate whose first copy EXPIRED
    from state is by construction also LATE (same boundary, wm >
    ts + delay) and is dropped by the watermark filter instead — which
    is precisely why the API is safe to bound.  Output over the finite
    fixture therefore equals batch DISTINCT, hash-checked by the
    oracle."""
    scoped = stream_session(spark)
    d = dup_split_dir(spark, sf_dir)
    schema = "event_id long, user_id long, event_type string, ts timestamp"
    stream = (
        scoped.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return scoped.table(run_to_completion(stream).table).orderBy("event_id")


def doc_split_dir(spark: SparkSession, sf_dir: str, *, n_splits: int = 4) -> str:
    """Documents as a time-ordered micro-batch stream: contiguous doc_id
    ranges per file, synthetic event time ts = epoch + doc_id seconds
    (documents carry no timestamp; a deterministic one makes watermarks
    usable).  Cached like late_split_dir."""
    src = table_path(sf_dir, "documents")

    def build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("doc_id") * 1_000_000
            ).alias("ts"),
        )
        # boundaries from the ACTUAL doc_id range, not the row count — a
        # regenerated fixture with 1-based or gapped ids must not lose rows
        # (range-partitioning by value only misbalances on gaps, never drops)
        bounds = docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        span = int(bounds.hi) - int(bounds.lo) + 1
        per = max(1, span // n_splits)
        frames = []
        for k in range(n_splits):
            lo = int(bounds.lo) + k * per
            hi = int(bounds.lo) + (k + 1) * per if k < n_splits - 1 else int(bounds.hi) + 1
            frames.append(docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)))
        materialize_split_files(frames, tmp)

    real, size, mtime_ns = file_stamp(src)
    return cached_dir("docsplit", ("docsplit", real, n_splits, size, mtime_ns), build)


def streaming_content_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    watermark: str = "30 days",
) -> DataFrame:
    """INGEST-TIME content dedup over a document stream: md5 digest of
    the text as the dedup key, ``dropDuplicatesWithinWatermark`` state —
    the first thing a training-corpus ingest does to an arriving crawl
    (content-level exact dedup, not record-key dedup).

    WATERMARK CHOICE: duplicate pairs here have DIFFERENT event times
    (ts tracks arrival position), so unlike
    :func:`streaming_distinct_within_watermark` (same-timestamp dups,
    shared expire/late boundary) a horizon shorter than the stream span
    re-admits a dup whose original expired — the "first per content"
    oracle is only exact when the watermark covers the fixture span
    (review round 7 caught the 30-minute default passing on FIXTURE LUCK:
    every planted dup pair happened to sit inside the live window).  The
    30-day default makes the oracle sound for any plausible fixture;
    production tunes it to the re-crawl window it actually wants to
    dedup across — accepting re-admission past it is the POINT of the
    bounded-state API.  Returns (doc_id, digest)."""
    scoped = stream_session(spark)
    d = doc_split_dir(spark, sf_dir)
    stream = (
        scoped.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("digest", F.md5(F.encode("text", "utf-8")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .select("doc_id", "digest")
    )
    return scoped.table(run_to_completion(stream).table).orderBy("doc_id")
