"""Streaming: windowed aggregation (oracle-checked via declared query) and
stateful sessionization — batch/streaming equivalence."""

from __future__ import annotations

import functools
import os
import tempfile
import time as _time
import uuid

import pytest
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.tables import load_table, table_path
from remote_shuffle_spark.streaming.sessionize import sessionize_batch, sessionize_streaming
from remote_shuffle_spark.streaming.source import event_time


def test_sessionize_batch_structure(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    sess = sessionize_batch(ev, gap_minutes=30.0)
    rows = sess.collect()
    assert len(rows) > 0
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.session_start)
        # sessions are disjoint, ordered, and gap-separated
        for a, b in zip(rs, rs[1:]):
            assert a.session_end < b.session_start
            assert (b.session_start - a.session_end).total_seconds() > 30 * 60
        assert all(r.session_start <= r.session_end for r in rs)
    # total events preserved
    assert sum(r.n_events for r in rows) == ev.count()


def test_sessionize_streaming_matches_batch_closed_sessions(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    batch = sessionize_batch(ev, gap_minutes=30.0).collect()

    # stream the same file (single micro-batch): every session except each
    # user's final (still-open) one must be emitted, identical to batch
    stream_dir = os.path.join(tempfile.gettempdir(), "events_stream_sessionize")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_smoke, "events"), link)
    raw = spark.read.parquet(table_path(sf_smoke, "events"))
    stream = (
        spark.readStream.schema(raw.schema)
        .parquet(stream_dir)
        .withColumn("ts", event_time(dict(raw.dtypes).get("ts")))
    )
    out = sessionize_streaming(stream, gap_minutes=30.0)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name).collect()

    def key(r):
        return (r.user_id, r.session_start, r.session_end, r.n_events)

    batch_by_user = {}
    for r in batch:
        batch_by_user.setdefault(r.user_id, []).append(r)
    expect = set()
    for user, rs in batch_by_user.items():
        rs.sort(key=lambda r: r.session_start)
        expect.update(key(r) for r in rs[:-1])  # all but the open last session
    assert set(key(r) for r in got) == expect


def test_sessionize_streaming_session_ids_continue_across_microbatches(spark, tmp_path):
    # ADVICE round-1: the session ordinal must live in state — a user whose
    # sessions close in different micro-batches gets 1, 2, 3… not 1, 1, 1.
    stream_dir = str(tmp_path / "sess_multibatch")
    minute = 60 * 1_000_000

    def write_events(ts_list_us):
        spark.createDataFrame(
            [(1, t) for t in ts_list_us], "user_id bigint, t_us bigint"
        ).select("user_id", F.timestamp_micros("t_us").alias("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)

    # batch 1: session A (2 events), gap, session B opens → closes session 1
    write_events([0, 10 * minute, 100 * minute])
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(stream_dir)
    out = sessionize_streaming(stream, gap_minutes=30.0)
    name = f"sessions_mb_{uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: gap closes session B (must be id 2, not a restarted 1),
        # session C gets 2 events, then a gap closes C as id 3
        write_events([200 * minute, 210 * minute, 300 * minute])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.session_id, r.n_events) for r in spark.table(name).collect()
    )
    assert got == [(1, 2), (2, 1), (3, 2)]


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Append-mode windowed agg: a window is finalized once the watermark
    passes its end; rows arriving after that are DROPPED, not merged —
    the late-data contract SURVEY §2.3 streaming requires."""
    stream_dir = str(tmp_path / "late_data")
    hour = 3600 * 1_000_000

    def write_events(ts_list_us):
        spark.createDataFrame(
            [(1, t) for t in ts_list_us], "user_id bigint, t_us bigint"
        ).select("user_id", F.timestamp_micros("t_us").alias("ts")).coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)

    # batch 1: events at 00:00 and 02:00 → watermark (10 min delay) lands
    # at 01:50, finalizing the 00:00-01:00 window
    write_events([0, 2 * hour])
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(stream_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            # batch 2: one LATE event into the finalized 00:00 window (must
            # be dropped) + one at 04:00 to advance the watermark past the
            # 02:00 window so it flushes
            write_events([30 * 60 * 1_000_000, 4 * hour])
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got = {r.ws.hour: r.n for r in spark.table(name).collect()}
    # hour 0 emitted with ONE event — the 00:30 late arrival was dropped;
    # hour 2 flushed by the batch-2 watermark advance
    assert got.get(0) == 1
    assert got.get(2) == 1


def test_file_stream_dir_keys_on_realpath(tmp_path, monkeypatch):
    """Same basename, different paths → distinct stream dirs; a re-pointed
    or dangling link is replaced, never trusted (ADVICE r2: basename
    keying silently streamed stale data)."""
    import os

    from remote_shuffle_spark.streaming.source import file_stream_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    (tmp_path / "scratch").mkdir()

    a = tmp_path / "fix_a" / "events.parquet"
    b = tmp_path / "fix_b" / "events.parquet"
    for p in (a, b):
        p.parent.mkdir()
        p.write_bytes(b"x")

    da, db = file_stream_dir(str(a)), file_stream_dir(str(b))
    assert da != db
    assert os.readlink(os.path.join(da, "events.parquet")) == str(a)

    # regenerated fixture at the same logical path after a move: the link
    # inside da must re-point when its target changes identity
    link = os.path.join(da, "events.parquet")
    os.remove(link)
    os.symlink(str(b), link)  # stale: points at b now
    assert file_stream_dir(str(a)) == da
    assert os.readlink(link) == str(a)  # re-pointed back

    # dangling link (target deleted) must be replaced, not crash symlink()
    os.remove(str(b))
    db2 = file_stream_dir_dangling_check(str(b), db)
    assert os.readlink(os.path.join(db2, "events.parquet")) == os.path.realpath(str(b))


def file_stream_dir_dangling_check(path, expected_dir):
    from remote_shuffle_spark.streaming.source import file_stream_dir

    # target is gone → realpath falls back to the literal path; the
    # dangling link must be recreated without FileExistsError
    return file_stream_dir(path)


def test_shingle_structs_ansi_safe(spark):
    """Short-doc padding relies on out-of-bounds element access → NULL;
    must hold under spark.sql.ansi.enabled=true (ADVICE r2)."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.hashing import shingle_structs, tokens

    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "id long, text string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = {
            r.id: r.sh
            for r in df.select(
                "id", shingle_structs(tokens("text"), 3).alias("sh")
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert rows[1] == [("one", "two", None)]  # null-padded whole-text shingle
    assert len(rows[2]) == 2


def test_stream_static_enrich_updates_per_microbatch(spark, tmp_path):
    """Stream-static join semantics: each micro-batch joins against the
    static dimension, so events arriving in later batches still enrich
    and fold into the complete-mode aggregate."""
    stream_dir = str(tmp_path / "enrich")

    def write_batch(rows):
        spark.createDataFrame(rows, "user_id bigint, value double").coalesce(1).write.mode(
            "append"
        ).parquet(stream_dir)

    dim = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "A")], "user_id bigint, seg string"
    )
    write_batch([(0, 1.0), (1, 2.0)])
    stream = spark.readStream.schema("user_id bigint, value double").parquet(stream_dir)
    agg = (
        stream.join(F.broadcast(dim), "user_id", "inner")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            first = {r.seg: (r.n, r.s) for r in spark.table(name).collect()}
            # batch 2: more events, incl. user 2 (seg A) and an unmatched user
            write_batch([(2, 10.0), (0, 5.0), (99, 7.0)])
            q.processAllAvailable()
            second = {r.seg: (r.n, r.s) for r in spark.table(name).collect()}
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert first == {"A": (1, 1.0), "B": (1, 2.0)}
    # batch 2 folded in; the dimensionless user 99 dropped by the inner join
    assert second == {"A": (3, 16.0), "B": (1, 2.0)}


def test_stream_stream_join_matches_across_microbatches(spark, tmp_path):
    # a view in micro-batch 1 must still join a purchase arriving in
    # micro-batch 2 (the joy of stateful stream-stream joins), and a
    # purchase outside the horizon must not match.
    stream_dir = str(tmp_path / "ss_join")
    minute = 60 * 1_000_000
    base = 1_000_000_000 * 1_000_000  # 2001-09-09: clear of the initial watermark's epoch 0

    def write_events(rows):  # (event_id, user_id, t_us, type)
        spark.createDataFrame(
            rows, "event_id bigint, user_id bigint, t_us bigint, event_type string"
        ).select(
            "event_id", "user_id", F.timestamp_micros("t_us").alias("ts"), "event_type"
        ).coalesce(1).write.mode("append").parquet(stream_dir)

    write_events([(1, 7, base, "view"), (2, 7, base + 10 * minute, "purchase")])

    def side(kind, prefix):
        # NOTE: events must sit ABOVE epoch 0 — the initial watermark is
        # 1970-01-01, and rows at/below the watermark count as late and
        # are silently dropped from join state (first debug of this test)
        stream = spark.readStream.schema(
            "event_id bigint, user_id bigint, ts timestamp, event_type string"
        ).parquet(stream_dir)
        return (
            stream.filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    joined = side("view", "v").join(
        side("purchase", "p"),
        F.expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 3600 seconds"),
        "inner",
    ).select("v_id", "p_id")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: an in-horizon purchase (joins the batch-1 view) and an
        # out-of-horizon one (ignored)
        write_events(
            [(3, 7, base + 50 * minute, "purchase"), (4, 7, base + 120 * minute, "purchase")]
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.v_id, r.p_id) for r in spark.table(name).collect()}
    assert got == {(1, 2), (1, 3)}


def test_append_parquet_sink_matches_memory_sink(spark, sf_smoke):
    """The production append sink (native parquet writeStream) emits the
    same closed sessions as the memory-sink drain — sink choice must not
    change results (the windowed complete-mode counterpart is pinned by
    the ext_stream_window_filesink declared oracle)."""
    from remote_shuffle_spark.streaming.sink import drain_append_to_parquet

    stream_dir = os.path.join(tempfile.gettempdir(), "events_stream_sessionize")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(table_path(sf_smoke, "events"), link)
    raw = spark.read.parquet(table_path(sf_smoke, "events"))

    def sessions_stream():
        stream = (
            spark.readStream.schema(raw.schema)
            .parquet(stream_dir)
            .withColumn("ts", event_time(dict(raw.dtypes).get("ts")))
        )
        return sessionize_streaming(stream, gap_minutes=30.0)

    out_dir = drain_append_to_parquet(sessions_stream())
    from_files = spark.read.parquet(out_dir).collect()

    name = f"sessions_{uuid.uuid4().hex[:8]}"
    q = (
        sessions_stream()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from_memory = spark.table(name).collect()

    def key(r):
        return (r.user_id, r.session_id, r.session_start, r.session_end, r.n_events)

    assert len(from_files) > 0
    assert sorted(key(r) for r in from_files) == sorted(key(r) for r in from_memory)


def test_merge_upsert_ordered_batch_order_independent(spark):
    """The CDC merge's defining property: any interleaving of changelog
    batches converges to the same table (latest (ts, id) wins)."""
    from remote_shuffle_spark.operators.upsert import merge_upsert_ordered

    rows = [
        # (key, ts, id, val) — key 1 updated in every batch, key 2 only
        # early, key 3 only late, key 4 has a ts tie broken by id
        (1, 10, 100, "a"), (2, 10, 101, "b"),
        (1, 20, 200, "c"), (4, 50, 201, "d"),
        (1, 30, 300, "e"), (3, 5, 301, "f"), (4, 50, 302, "g"),
    ]
    cols = ["k", "ts", "event_id", "val"]
    batches = [
        spark.createDataFrame(rows[0:2], cols),
        spark.createDataFrame(rows[2:4], cols),
        spark.createDataFrame(rows[4:7], cols),
    ]
    empty = spark.createDataFrame([], batches[0].schema)

    def apply_all(order):
        t = empty
        for i in order:
            t = merge_upsert_ordered(t, batches[i], ["k"], ["ts", "event_id"])
        return {tuple(r) for r in t.collect()}

    expect = {(1, 30, 300, "e"), (2, 10, 101, "b"), (3, 5, 301, "f"), (4, 50, 302, "g")}
    assert apply_all([0, 1, 2]) == expect
    assert apply_all([2, 0, 1]) == expect
    assert apply_all([1, 2, 0]) == expect
    # redelivery idempotence: re-applying an already-applied batch is a no-op
    t = merge_upsert_ordered(
        merge_upsert_ordered(empty, batches[2], ["k"], ["ts", "event_id"]),
        batches[2], ["k"], ["ts", "event_id"],
    )
    assert {tuple(r) for r in t.collect()} == {
        (1, 30, 300, "e"), (3, 5, 301, "f"), (4, 50, 302, "g")
    }


def test_cdc_split_source_yields_true_microbatches(spark, sf_smoke):
    """The split dir must expose n real files (n micro-batches under
    maxFilesPerTrigger=1) that partition the fixture exactly."""
    from remote_shuffle_spark.streaming.cdc import split_stream_dir

    path = table_path(sf_smoke, "events")
    d = split_stream_dir(spark, path, n_splits=4)
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 4
    n_src = spark.read.parquet(path).count()
    n_split = spark.read.parquet(*[os.path.join(d, f) for f in files]).count()
    assert n_split == n_src


def test_cdc_split_of_a_new_file_infers_no_schema(spark, sf_smoke, tmp_path):
    """A split built for a file (a cache miss: the copy is a new path) reads
    it with the schema the caller already resolved through
    ``table_schema``, as ``streaming_cdc_upsert`` does: the build's only
    jobs are its ``n_splits`` file writes, no parquet schema-inference
    job (which carries the same ``parquet at NativeMethodAccessorImpl``
    call site as the writes, so the jobs are counted)."""
    import shutil

    from remote_shuffle_spark.sources.tables import table_schema
    from remote_shuffle_spark.streaming.cdc import split_stream_dir
    from tests.conftest import jobs_in

    path = str(tmp_path / "events.parquet")
    shutil.copy(table_path(sf_smoke, "events"), path)
    table_schema(spark, path)
    out = {}
    jobs = jobs_in(spark, lambda: out.update(d=split_stream_dir(spark, path, n_splits=2)))
    assert len(jobs) == 2, jobs
    assert spark.read.parquet(out["d"]).count() == spark.read.parquet(path).count()


def test_late_drop_actually_drops_and_no_boundary_ties(spark):
    """ext_stream_late_drop's determinism rests on (a) late rows REALLY
    being dropped (the query would trivially pass if the watermark never
    bit) and (b) no row's window end exactly EQUALING its arrival batch's
    watermark (the <=/< eviction boundary must never matter)."""
    import datetime

    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.latedrop import (
        assign_arrival,
        _ordered_events,
        windowed_counts_with_late_drop,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        assigned = assign_arrival(_ordered_events(spark, sf))
        total = assigned.count()
        kept = windowed_counts_with_late_drop(spark, sf).agg(
            F.sum("n").alias("s")
        ).collect()[0].s
        assert kept < total  # the watermark bit: some rows really dropped
        assert kept > total * 0.9  # ...but only the late slice

        rows = assigned.select(
            "arrival",
            "ts",
            (F.window("ts", "5 minutes").end).alias("wend"),
        ).collect()
        max_ts: dict[int, object] = {}
        for r in rows:
            if r.arrival not in max_ts or r.ts > max_ts[r.arrival]:
                max_ts[r.arrival] = r.ts
        delay = datetime.timedelta(minutes=30)
        for r in rows:
            prev = [v for k, v in max_ts.items() if k < r.arrival]
            if prev:
                assert r.wend != max(prev) - delay, (sf, r)


def test_first_n_per_key_tws_or_documented_gate(spark):
    """Spark 4 transformWithStateInPandas seam: when the TWS protocol can
    run (real google.protobuf on cluster images, or the vendored minimal
    shim here — active since round 7), the stateful limiter must equal
    the batch row_number oracle; if neither is available the gate must
    raise with the documented environment reason, never crash the stream
    mid-query."""
    import pytest as _pytest
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.latedrop import _ordered_events
    from remote_shuffle_spark.streaming.stateful_v2 import (
        first_n_per_key_stream,
        tws_available,
    )

    sf = "/root/testdata/sf0.001"
    if not tws_available():
        with _pytest.raises(RuntimeError, match="google.protobuf"):
            first_n_per_key_stream(spark, sf)
        _pytest.skip("TWS state-server protocol needs google.protobuf (absent here)")

    got = {(r.user_id, r.event_id) for r in first_n_per_key_stream(spark, sf).collect()}
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    want = {
        (r.user_id, r.event_id)
        for r in _ordered_events(spark, sf).withColumn("rn", rn).filter("rn <= 5").collect()
    }
    assert got == want


def test_ordered_only_split_is_strictly_time_ordered(spark):
    """late_split_dir(late_every=None) is the split FirstNPerKey's
    ordered-batch contract requires (round-5 advice: the default late
    re-delivery split hands the stateful limiter its EARLIEST events
    LAST, silently corrupting "first").  Pin: no trailing late file, and
    every file's max ts <= the next file's min ts."""
    import os

    from remote_shuffle_spark.streaming.latedrop import late_split_dir

    sf = "/root/testdata/sf0.001"
    d = late_split_dir(spark, sf, n_splits=4, late_every=None)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert files == [f"split_{k}.parquet" for k in range(4)]  # no late file
    prev_max = None
    total = 0
    for f in files:
        rows = spark.read.parquet(os.path.join(d, f)).select("ts").collect()
        total += len(rows)
        ts = [r.ts for r in rows]
        if prev_max is not None:
            assert min(ts) >= prev_max, f
        prev_max = max(ts)
    from remote_shuffle_spark.streaming.latedrop import _ordered_events

    assert total == _ordered_events(spark, sf).count()  # nothing dropped


def test_late_split_dir_rebuilds_incomplete_cache(spark, sf_smoke, tmp_path, monkeypatch):
    """A cache directory left without _SUCCESS (a crash, a /tmp cleaner)
    is rebuilt, never served — it must not block the fresh build's rename
    (ENOTEMPTY) and be handed back broken on every later call."""
    import hashlib

    from remote_shuffle_spark.scratch import source_fingerprint
    from remote_shuffle_spark.streaming.latedrop import late_split_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    real = os.path.realpath(table_path(sf_smoke, "events"))
    st = os.stat(real)
    key = hashlib.sha1(
        f"{source_fingerprint()}|{real}|2|7|{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:12]
    broken = tmp_path / f"rss_latedrop_{key}"
    broken.mkdir()
    (broken / "split_0.parquet").write_bytes(b"truncated")

    d = late_split_dir(spark, sf_smoke, n_splits=2, late_every=7)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert files == [f"split_{k}.parquet" for k in range(3)]
    n = spark.read.parquet(*[os.path.join(d, f) for f in files]).count()
    assert n == spark.read.parquet(real).count()


def test_stream_outer_join_nulls_emitted_both_sides(spark):
    """ext_stream_outer_join / ext_stream_full_outer_join: null rows
    REALLY emit by eviction on both sides (the watermark bit), and the
    final watermark is the MIN of the two sides' own (max event time -
    delay) — the subtlety a max-over-all-events model got wrong by
    exactly 2 rows at sf0.01.  The eviction BOUNDARY itself needs no
    fixture tie-freedom: it is the exact rule pinned by
    test_stream_join_eviction_boundary_is_wm_minus_1ms and encoded in
    the oracles (boundary <= wm - 1ms)."""
    from remote_shuffle_spark.streaming.join import (
        view_purchase_attribution_full,
        view_purchase_attribution_outer,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = view_purchase_attribution_outer(spark, sf).collect()
        n_null = sum(1 for r in rows if r.purchase_id is None)
        assert 0 < n_null < len(rows)
        frows = view_purchase_attribution_full(spark, sf).collect()
        n_v = sum(1 for r in frows if r.purchase_id is None)
        n_p = sum(1 for r in frows if r.view_id is None)
        assert n_v > 0 and n_p > 0 and n_v + n_p < len(frows)


def test_stream_join_eviction_boundary_is_wm_minus_1ms(spark, tmp_path):
    """The EXACT outer-join eviction rule, pinned against a crafted
    fixture with events planted at millisecond offsets around the
    watermark: a row null-emits iff its boundary value (view window end
    / purchase timestamp) <= wm - 1ms — Spark's state-value-watermark
    subtracts one millisecond, so a window end EQUAL to the watermark
    (or within the open 1 ms band below it) stays in state.  This is
    the rule both outer oracles encode; if a Spark upgrade moves the
    boundary, this test localizes it immediately."""
    import os
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.source import (
        event_time,
        file_stream_dir,
        stream_session,
    )

    T0 = pd.Timestamp("2024-01-01 00:00:00")
    ms = pd.Timedelta(milliseconds=1)
    offsets = [-2, -1, 0, 1]
    rows = []
    # views: window end (v_ts + 1h) lands at wm + off
    for i, off in enumerate(offsets):
        rows.append((100 + i, T0 + pd.Timedelta(hours=3) + off * ms, 20 + i, "view", 0.0, "{}"))
    # purchases: p_ts lands at wm + off
    for i, off in enumerate(offsets):
        rows.append((200 + i, T0 + pd.Timedelta(hours=4) + off * ms, 40 + i, "purchase", 0.0, "{}"))
    # anchors fixing both sides' max event time -> wm = T0+4h
    rows += [
        (4, T0 + pd.Timedelta(hours=6), 99, "view", 0.0, "{}"),
        (5, T0 + pd.Timedelta(hours=6), 98, "purchase", 0.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path / "boundary")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)

    scoped = stream_session(spark)
    batch = scoped.read.parquet(os.path.join(d, "events.parquet"))
    dtype = dict(batch.dtypes)["ts"]
    stream = scoped.readStream.schema(batch.schema).parquet(
        file_stream_dir(os.path.join(d, "events.parquet"))
    )

    def side(kind, p):
        return (
            stream.filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{p}_user"),
                F.col("event_id").alias(f"{p}_id"),
                event_time(dtype).alias(f"{p}_ts"),
            )
            .withWatermark(f"{p}_ts", "2 hours")
        )

    j = (
        side("view", "v")
        .join(
            side("purchase", "p"),
            F.expr(
                "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 3600 seconds"
            ),
            "full_outer",
        )
        .select("v_id", "p_id")
    )
    name = f"boundary_{uuid.uuid4().hex[:8]}"
    q = j.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = scoped.table(name).collect()
    vnull = {r.v_id for r in out if r.p_id is None}
    pnull = {r.p_id for r in out if r.v_id is None}
    for i, off in enumerate(offsets):
        assert (100 + i in vnull) == (off <= -1), f"view offset {off}ms"
        assert (200 + i in pnull) == (off <= -1), f"purchase offset {off}ms"


def test_stream_session_window_withholds_tail(spark):
    """ext_stream_session_window really withholds unfinalized tail
    sessions (emitted count < batch session count — the append-mode
    semantics the query pins); the finalization boundary itself is
    exact (see test_session_finalization_boundary_is_inclusive), so no
    fixture tie-freedom is required."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.sources.tables import load_table
    from remote_shuffle_spark.streaming.windowed import session_window_stream

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ev = load_table(spark, sf, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        n_all = (
            ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .count()
            .count()
        )
        emitted = session_window_stream(spark, sf).count()
        assert 0 < emitted < n_all, sf


def test_session_finalization_boundary_is_inclusive(spark, tmp_path):
    """Append-mode session windows finalize with an INCLUSIVE bound:
    a session whose end EQUALS the watermark emits; end = wm + 1ms does
    not — scanned at millisecond offsets on a crafted fixture.  Note
    the contrast with the stream-join eviction (boundary <= wm - 1ms):
    two state operators, two different boundary conventions, each
    pinned by its own scan and encoded in its oracle."""
    import os
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.source import (
        event_time,
        file_stream_dir,
        stream_session,
    )

    T0 = pd.Timestamp("2024-01-01 00:00:00")
    ms = pd.Timedelta(milliseconds=1)
    offsets = [-1, 0, 1]
    rows = [
        (300 + i, T0 + pd.Timedelta(hours=3, minutes=30) + off * ms, 60 + i, "view", 0.0, "{}")
        for i, off in enumerate(offsets)
    ]
    rows.append((4, T0 + pd.Timedelta(hours=6), 99, "view", 0.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path / "sess_boundary")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)
    scoped = stream_session(spark)
    batch = scoped.read.parquet(os.path.join(d, "events.parquet"))
    dtype = dict(batch.dtypes)["ts"]
    stream = (
        scoped.readStream.schema(batch.schema)
        .parquet(file_stream_dir(os.path.join(d, "events.parquet")))
        .withColumn("ts", event_time(dtype))
        .withWatermark("ts", "2 hours")
    )
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count(F.lit(1)).alias("n"))
    name = f"sess_boundary_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.user_id for r in scoped.table(name).collect()}
    for i, off in enumerate(offsets):
        assert (60 + i in got) == (off <= 0), f"session end = wm {off:+d}ms"


def test_update_mode_late_rows_merge_into_live_state(spark, tmp_path):
    """Update-mode aggregation has NO input-side late filter: a row
    arriving after the watermark passed its window still MERGES when the
    window's state is live (eviction runs at end-of-batch with the
    batch's operative watermark — computed from strictly earlier
    batches — so the first batch after a watermark advance still sees
    pre-advance state).  This is the mechanism behind
    ext_stream_late_drop's observable drops (eviction + MAX absorption),
    pinned so a Spark behavior change is localized immediately."""
    import os
    import shutil
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.source import event_time, stream_session

    T0 = pd.Timestamp("2024-01-01 00:00:00")
    E = T0 + pd.Timedelta(hours=1, minutes=5)  # window [01:00, 01:05)
    b0 = pd.DataFrame(
        [
            (1, E - pd.Timedelta(minutes=2), 1, "view", 0.0, "{}"),
            # anchor pushes the batch-1 watermark 1ms PAST the window end
            (2, E + pd.Timedelta(minutes=30, milliseconds=1), 1, "view", 0.0, "{}"),
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    b1 = pd.DataFrame(
        [(3, E - pd.Timedelta(seconds=10), 2, "view", 0.0, "{}")], columns=b0.columns
    )
    d = str(tmp_path / "late_merge")
    os.makedirs(d)
    for k, df in enumerate((b0, b1)):
        tmpd = os.path.join(d, f"_t{k}")
        os.makedirs(tmpd)
        fp = os.path.join(tmpd, "f.parquet")
        df.to_parquet(fp, index=False)
        dst = os.path.join(d, f"split_{k}.parquet")
        shutil.move(fp, dst)
        os.utime(dst, (1_700_000_000 + k * 10,) * 2)
        shutil.rmtree(tmpd)
    scoped = stream_session(spark)
    sb = scoped.read.parquet(os.path.join(d, "split_0.parquet"))
    stream = (
        scoped.readStream.schema(sb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("ts", event_time(dict(sb.dtypes)["ts"]))
        .withWatermark("ts", "30 minutes")
    )
    agg = stream.groupBy(F.window("ts", "5 minutes").alias("w")).agg(
        F.count(F.lit(1)).alias("n")
    )
    import uuid as _uuid

    name = f"late_merge_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ns = [
        r.n
        for r in scoped.table(name).collect()
        if r.w.end.replace(tzinfo=None) == E.to_pydatetime()
    ]
    # watermark (E + 1ms) is past the window end, yet the late row MERGED
    assert max(ns) == 2


def test_assign_arrival_no_single_partition_window(spark):
    """assign_arrival is an exported operator: its global (ts, event_id)
    rank must come from the range-partitioned two-phase numbering, not an
    unpartitioned row_number() window (single-task total sort at scale).
    Pin the physical plan: any Window node must NOT sit on an Exchange
    SinglePartition."""
    from remote_shuffle_spark.plans.explain import physical_plan
    from remote_shuffle_spark.streaming.latedrop import (
        _ordered_events,
        assign_arrival,
    )

    df = assign_arrival(_ordered_events(spark, "/root/testdata/sf0.001"))
    plan = physical_plan(df, mode="simple")
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            below = "\n".join(lines[i : i + 4])
            assert "SinglePartition" not in below, (
                f"unpartitioned window reintroduced:\n{below}"
            )
    # and the split itself still matches the pinned contiguous formula
    rows = df.select("event_id", "rn", "batch", "arrival").collect()
    total = len(rows)
    for r in rows:
        assert r.batch == ((r.rn - 1) * 4) // total


def test_dedup_within_watermark_state_is_bounded(spark):
    """dropDuplicatesWithinWatermark's reason to exist: state expires
    with the watermark.  Run both variants over the duplicate-pressure
    split and compare end-of-stream state rows — the bounded variant
    must hold only the last watermark window of keys, the plain variant
    every key ever seen."""
    from remote_shuffle_spark.streaming.dedup import dup_split_dir
    from remote_shuffle_spark.streaming.source import stream_session

    sf = "/root/testdata/sf0.001"
    d = dup_split_dir(spark, sf)
    schema = "event_id long, user_id long, event_type string, ts timestamp"

    def run(bounded: bool) -> tuple[int, int]:
        s2 = stream_session(spark)
        stream = (
            s2.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withWatermark("ts", "30 minutes")
        )
        stream = (
            stream.dropDuplicatesWithinWatermark(["event_id"])
            if bounded
            else stream.dropDuplicates(["event_id"])
        )
        q = (
            stream.select("event_id")
            .writeStream.outputMode("append")
            .format("noop")
            .start()
        )
        try:
            q.processAllAvailable()
            progs = [p for p in q.recentProgress if p.get("stateOperators")]
            state_rows = progs[-1]["stateOperators"][0]["numRowsTotal"]
            out_rows = sum(p["sink"]["numOutputRows"] for p in progs)
        finally:
            q.stop()
        return state_rows, out_rows

    bounded_state, bounded_out = run(True)
    plain_state, plain_out = run(False)
    n = 1000  # sf0.001 events
    assert bounded_out == plain_out == n  # both dedup exactly
    assert plain_state == n  # plain: every key ever seen, forever
    assert bounded_state < n // 2, (bounded_state, plain_state)


def _retry_once_on_load_flake(fn):
    """Protocol-level TWS tests are sensitive to ambient load: under a
    32-way full-suite run the Python state-server socket drains slowly
    ("No more data to read from the socket" warnings) and a sink-poll
    deadline can expire before the query converges — the same
    sensitivity measured on the bench side (BASELINE.md TWS
    family-protocol row; each passes solo in ~25 s).  Every wrapped test
    is idempotent per invocation (uuid-fresh sink names / tmp dirs), so
    one retry after a settle pause distinguishes a real protocol defect
    (fails twice) from a load flake (passes on the quiet second run).

    The retry is NARROW: only the observed flake classes are retried —
    AssertionError/TimeoutError (the 240 s poll deadline expiring before
    the query converges) and socket / Py4J connection errors (slow
    state-server socket drain).  Anything else (TypeError, KeyError,
    AnalysisException, ...) is a real defect and re-raises immediately.
    The first failure is recorded as a pytest WARNING (shown in the run
    summary), so an intermittent 50%-failure protocol regression leaves
    a visible flaky-test trail instead of a buried stdout line."""

    _RETRYABLE = (AssertionError, TimeoutError, ConnectionError, EOFError)

    def _is_load_flake(exc: Exception) -> bool:
        if isinstance(exc, _RETRYABLE):
            return True
        # Py4J wraps JVM-side failures; only NETWORK-layer ones are load
        # flakes.  Py4JJavaError carries arbitrary JVM exceptions (an NPE
        # or AnalysisException from a real protocol regression must
        # re-raise immediately), so for it match the observed socket-drain
        # message signatures only.  Matched by name to avoid importing
        # py4j internals here.
        name = type(exc).__name__
        if name == "Py4JNetworkError":
            return True
        if name in ("Py4JError", "Py4JJavaError"):
            msg = str(exc)
            return any(
                sig in msg
                for sig in (
                    "No more data to read",
                    "Connection reset",
                    "Connection refused",
                    "Answer from Java side is empty",
                    "SocketTimeoutException",
                )
            )
        return False

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except Exception as first:
            if not _is_load_flake(first):
                raise
            # keep the flaky signal visible: a swallowed first failure
            # would mask a real intermittent protocol defect's frequency
            import warnings

            warnings.warn(
                f"RETRY {fn.__name__}: first attempt failed with "
                f"{type(first).__name__}: {first}",
                stacklevel=2,
            )
            _time.sleep(10)
            return fn(*args, **kwargs)

    return wrapper


@_retry_once_on_load_flake
def test_tws_value_state_with_ttl_roundtrips_protocol(spark):
    """TTL state coverage: getValueState(ttlDurationMs=...) sends the
    TTLConfig submessage through the state-server protocol (the last
    StateMessage field no other test drives).  TTL is processing-time
    based, so determinism comes from a horizon far beyond the test
    (~12 days): semantics equal un-TTL'd state, and per-user totals must
    match batch counts."""
    import uuid as _uuid

    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from remote_shuffle_spark.sources.tables import load_table
    from remote_shuffle_spark.streaming.latedrop import (
        _ordered_events,
        late_split_dir,
    )
    from remote_shuffle_spark.streaming.source import stream_session
    from remote_shuffle_spark.streaming.stateful_v2 import tws_available

    if not tws_available():
        _pytest.skip("TWS protocol unavailable (no protobuf and no shim)")

    class TTLCount(StatefulProcessor):
        def init(self, handle):
            self.n = handle.getValueState("n", "n long", ttlDurationMs=2**30)

        def handleInputRows(self, key, rows, timer_values):
            add = sum(len(p) for p in rows)
            prev = self.n.get()[0] if self.n.exists() else 0
            self.n.update((prev + add,))
            yield pd.DataFrame(
                [(int(key[0]), prev + add)], columns=["user_id", "total"]
            )

        def close(self):
            pass

    sf = "/root/testdata/sf0.001"
    split = late_split_dir(spark, sf, late_every=None)
    schema = _ordered_events(spark, sf).schema
    s2 = stream_session(spark)
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = (
        s2.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(split)
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        TTLCount(), "user_id long, total long", "Update", "ProcessingTime"
    )
    name = f"ttl_{_uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        # ProcessingTime mode never settles under processAllAvailable
        # (see stateful_v2 docstring) — poll the sink for the expected
        # row count instead, then stop.
        import time

        # Poll the TRUE fixed point (max totals == batch counts), not
        # user-count + isDataAvailable: with maxFilesPerTrigger=1 the
        # status flag flips False BETWEEN micro-batches, so every user can
        # be present (each file spans all users) while later files are
        # still queued — the exact premature-exit race this test hit twice
        # under ambient load.
        want = {
            (r.user_id, r.n)
            for r in load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

        def _got() -> set:
            return {
                (r.user_id, r.total)
                for r in s2.table(name)
                .groupBy("user_id")
                .agg(F.max("total").alias("total"))
                .collect()
            }

        deadline = time.time() + 240
        got = _got()
        while got != want and time.time() < deadline:
            time.sleep(2)
            got = _got()
    finally:
        q.stop()
    assert got == want


@_retry_once_on_load_flake
def test_tws_state_survives_query_restart(spark):
    """TWS state durability across query RESTARTS — the streaming face
    of the engine's no-recompute discipline: run the FirstNPerKey
    limiter over half the input, STOP the query, start a NEW query from
    the same checkpoint over the rest.  The limiter's per-user count
    lives in RocksDB behind the checkpoint; if restart lost it, phase 2
    would re-admit up to n more rows per user and the combined output
    could not equal the batch row_number oracle."""
    import shutil
    import uuid as _uuid

    import pytest as _pytest
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from remote_shuffle_spark.streaming.latedrop import (
        _ordered_events,
        late_split_dir,
    )
    from remote_shuffle_spark.streaming.source import stream_session
    from remote_shuffle_spark.streaming.stateful_v2 import (
        FirstNPerKey,
        tws_available,
    )

    if not tws_available():
        _pytest.skip("TWS protocol unavailable (no protobuf and no shim)")

    sf = "/root/testdata/sf0.001"
    split = late_split_dir(spark, sf, late_every=None)
    schema = _ordered_events(spark, sf).schema
    s2 = stream_session(spark)
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    base = os.path.join(tempfile.gettempdir(), f"tws_restart_{_uuid.uuid4().hex[:8]}")
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    os.makedirs(in_dir)
    files = sorted(f for f in os.listdir(split) if f.endswith(".parquet"))
    assert len(files) == 4

    def run_phase(new_files):
        for f in new_files:
            shutil.copy2(os.path.join(split, f), os.path.join(in_dir, f))
        stream = (
            s2.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            FirstNPerKey(5), "user_id long, event_id long", "Update", "none"
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_phase(files[:2])   # phase 1: first half of the input
    run_phase(files[2:])   # RESTARTED query, same checkpoint, second half

    got = {
        (r.user_id, r.event_id) for r in spark.read.parquet(out_dir).collect()
    }
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    want = {
        (r.user_id, r.event_id)
        for r in _ordered_events(spark, sf)
        .withColumn("rn", rn)
        .filter("rn <= 5")
        .collect()
    }
    assert got == want
    shutil.rmtree(base, ignore_errors=True)


@_retry_once_on_load_flake
def test_tws_list_and_map_state_with_ttl(spark):
    """TTL on the OTHER typed-state families: getListState/getMapState
    both take ttlDurationMs and send the same TTLConfig submessage the
    ValueState test pins — far horizon, so semantics equal un-TTL'd
    state and per-user (n_ids, n_types) must match batch truth."""
    import uuid as _uuid

    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from remote_shuffle_spark.sources.tables import load_table
    from remote_shuffle_spark.streaming.latedrop import (
        _ordered_events,
        late_split_dir,
    )
    from remote_shuffle_spark.streaming.source import stream_session
    from remote_shuffle_spark.streaming.stateful_v2 import tws_available

    if not tws_available():
        _pytest.skip("TWS protocol unavailable (no protobuf and no shim)")

    class TTLListMap(StatefulProcessor):
        def init(self, handle):
            self.ids = handle.getListState("ids", "event_id long", ttlDurationMs=2**30)
            self.types = handle.getMapState(
                "types", "t string", "one long", ttlDurationMs=2**30
            )

        def handleInputRows(self, key, rows, timer_values):
            pdf = pd.concat(list(rows))
            self.ids.appendList([(int(e),) for e in pdf["event_id"]])
            for t in pdf["event_type"].unique():
                self.types.updateValue((t,), (1,))
            n_ids = sum(1 for _ in self.ids.get())
            n_types = sum(1 for _ in self.types.keys())
            yield pd.DataFrame(
                [(int(key[0]), n_ids, n_types)],
                columns=["user_id", "n_ids", "n_types"],
            )

        def close(self):
            pass

    sf = "/root/testdata/sf0.001"
    split = late_split_dir(spark, sf, late_every=None)
    schema = _ordered_events(spark, sf).schema
    s2 = stream_session(spark)
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = (
        s2.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(split)
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        TTLListMap(), "user_id long, n_ids long, n_types long", "Update",
        "ProcessingTime",
    )
    name = f"ttl_lm_{_uuid.uuid4().hex[:8]}"
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        import time

        want = {
            (r.user_id, r.n, r.t)
            for r in load_table(spark, sf, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("event_type").alias("t"),
            )
            .collect()
        }
        deadline = time.time() + 240
        got = set()
        while time.time() < deadline:
            got = {
                (r.user_id, r.n_ids, r.n_types)
                for r in s2.table(name)
                .groupBy("user_id")
                .agg(F.max("n_ids").alias("n_ids"), F.max("n_types").alias("n_types"))
                .collect()
            }
            if got == want and not q.status["isDataAvailable"]:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == want


def test_dynamic_session_window_touch_merges_past_does_not(spark):
    """Dynamic-gap session_window boundary pin (ext_session_window_dynamic
    oracle mirrors this exactly): an event AT the previous event's window
    end (prev ts + prev gap) MERGES — equality is not a boundary — while
    one microsecond past it starts a new session; and a long-gap event
    holds the session open through a later short-gap one."""
    minute = 60 * 1_000_000
    rows = [
        # user 1: error@0 (5m window) + event exactly at 5m -> ONE session
        (1, 1, 0, "error"),
        (1, 2, 5 * minute, "click"),
        # user 2: error@0 (5m) + event at 5m + 1us -> TWO sessions
        (2, 3, 0, "error"),
        (2, 4, 5 * minute + 1, "click"),
        # user 3: click@0 (30m window) then error@10m (5m window) then
        # click@20m: the error's own window ends at 15m, but the FIRST
        # click's 30m window holds the session open -> ONE session
        (3, 5, 0, "click"),
        (3, 6, 10 * minute, "error"),
        (3, 7, 20 * minute, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, t_us long, event_type string"
    ).select(
        "user_id", "event_id", F.timestamp_micros("t_us").alias("ts"), "event_type"
    )
    gap = F.when(F.col("event_type") == "error", F.lit("5 minutes")).otherwise(
        F.lit("30 minutes")
    )
    sess = (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user = {}
    for r in sess:
        per_user.setdefault(r.user_id, []).append(r.n)
    assert sorted(per_user[1]) == [2], per_user  # touch merges
    assert sorted(per_user[2]) == [1, 1], per_user  # 1us past splits
    assert sorted(per_user[3]) == [3], per_user  # long gap holds it open
