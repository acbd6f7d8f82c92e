"""Streaming STATE-SIZE probe — the #1 production failure mode of
stream-stream joins is unbounded state, and the correctness gate never
measures it (fixtures are one micro-batch; eviction is exercised for
semantics, not size).  This probe drives `lastProgress.stateOperators`
(numRowsTotal, memoryUsedBytes) for a watermarked stream-stream inner
join and verifies the two laws that make the operator deployable:

1. **State ∝ horizon × rate, NOT volume**: at a held event RATE and
   watermark horizon, growing the stream's SPAN (total volume) 1x→5x→10x
   must leave end-of-stream state rows flat — eviction keeps only the
   last (delay + join-horizon) window of both sides.  A flat line here is
   the difference between a stream that runs for months and one that
   OOMs its state store on day three.
2. **Doubling the watermark delay ~doubles state rows** — the knob users
   actually turn, priced.

Synthetic input: deterministic event-time stream at `RATE` events/sec,
written as N_FILES contiguous time-ordered parquet files (the file
source's processing order), so the watermark advances file by file and
eviction runs between micro-batches — measuring a real steady state, not
a single-batch artifact.

Asserts the laws (exits non-zero on violation) and prints one JSON line;
recorded in docs/scale.md.  Usage: python scripts/stream_state_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

RATE = 200  # events/sec (per side ~half)
BASE_US = 1_700_000_000_000_000
N_FILES = 6


def synth_stream_dir(spark, span_s: int) -> str:
    """Time-ordered file-per-micro-batch stream: RATE events/sec over
    span_s seconds, alternating view/purchase, ~2k users."""
    total = RATE * span_s
    step_us = 1_000_000 // RATE
    out = os.path.join(
        tempfile.gettempdir(), f"rss_stateprobe_{span_s}_{uuid.uuid4().hex[:6]}"
    )
    os.makedirs(out, exist_ok=True)
    df = spark.range(total).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(2000)).alias("user_id"),
        F.timestamp_micros(F.lit(BASE_US) + F.col("id") * step_us).alias("ts"),
        F.when(F.col("id") % 2 == 0, F.lit("view")).otherwise(F.lit("purchase")).alias(
            "event_type"
        ),
    )
    from remote_shuffle_spark.streaming.splitutil import materialize_split_files

    per_file = total // N_FILES
    materialize_split_files(
        [
            df.filter(
                (F.col("event_id") >= k * per_file)
                & (
                    F.col("event_id") < (k + 1) * per_file
                    if k < N_FILES - 1
                    else F.lit(True)
                )
            )
            for k in range(N_FILES)
        ],
        out,
    )
    return out


def run_join(spark, stream_dir: str, *, delay: str, horizon_minutes: int):
    """Watermarked stream-stream inner join over the synthetic dir;
    returns the final stateOperators entry."""
    from remote_shuffle_spark.streaming.source import stream_session

    s2 = stream_session(spark)
    schema = "event_id long, user_id long, ts timestamp, event_type string"

    def side(kind, prefix):
        return (
            s2.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    views, buys = side("view", "v"), side("purchase", "p")
    joined = views.join(
        buys,
        F.expr(
            f"v_user = p_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + interval {horizon_minutes} minutes"
        ),
    )
    # noop sink: join OUTPUT is join-horizon-quadratic and irrelevant here
    # (a memory sink accumulated millions of driver rows and lost task
    # results at the 10x span); state metrics are sink-independent
    q = joined.writeStream.outputMode("append").format("noop").start()
    try:
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p.get("stateOperators")]
        last = progresses[-1]["stateOperators"][0]
    finally:
        q.stop()
    return {
        "rows": last["numRowsTotal"],
        "mem_bytes": last["memoryUsedBytes"],
        "evicted_total": sum(
            p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
        ),
    }


def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="substring filter: 'join' or 'tws'")
    args = ap.parse_args()

    from remote_shuffle_spark import EngineConfig, get_session

    spark = get_session(EngineConfig(app_name="rss_stream_state_probe"))
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    if args.only and "tws" in args.only and "join" not in args.only:
        results["tws_cost"] = tws_cost_probe(spark)
        print(json.dumps(results))
        return
    # Law 1: held rate + horizon, growing span (volume) — state must stay flat
    for mult, span in (("1x", 600), ("5x", 3000), ("10x", 6000)):
        d = synth_stream_dir(spark, span)
        results[f"span_{mult}"] = run_join(
            spark, d, delay="5 minutes", horizon_minutes=2
        )
        shutil.rmtree(d, ignore_errors=True)
        print(f"  span {mult} ({span}s): {results[f'span_{mult}']}", file=sys.stderr)
    # Law 2: doubled watermark delay at the 5x span — state ~doubles
    d = synth_stream_dir(spark, 3000)
    results["delay_2x"] = run_join(spark, d, delay="10 minutes", horizon_minutes=2)
    shutil.rmtree(d, ignore_errors=True)
    print(f"  delay 2x: {results['delay_2x']}", file=sys.stderr)

    flat_ratio = results["span_10x"]["rows"] / max(1, results["span_1x"]["rows"])
    delay_ratio = results["delay_2x"]["rows"] / max(1, results["span_5x"]["rows"])
    results["flat_ratio_10x_volume"] = round(flat_ratio, 3)
    results["delay2x_rows_ratio"] = round(delay_ratio, 3)
    # volume grew 10x past the watermark; state must not track it
    assert flat_ratio < 1.5, f"state grew with volume: {flat_ratio}x at 10x span"
    # delay is the dominant state term (delay + horizon window): 2x delay
    # on a 5min+2min window predicts (10+2)/(5+2) ~ 1.7x
    assert 1.3 <= delay_ratio <= 2.5, f"delay scaling off: {delay_ratio}"
    if not args.only or "tws" in args.only:
        results["tws_cost"] = tws_cost_probe(spark)
    print(json.dumps(results))




def tws_cost_probe(spark):
    """Substantiate the TWS cost model stateful_v2.type_counts_stream
    documents: per-op state-server round-trips make wall time track
    KEYS × batches, nearly flat in rows-per-key.  Three runs: baseline,
    4× keys (same rows), 4× rows (same keys)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from remote_shuffle_spark.streaming.source import stream_session
    from remote_shuffle_spark.streaming.stateful_v2 import tws_available

    if not tws_available():
        return {"skipped": "no protobuf/shim"}

    class Count(StatefulProcessor):
        def init(self, handle):
            self.n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timer_values):
            add = sum(len(p) for p in rows)
            prev = self.n.get()[0] if self.n.exists() else 0
            self.n.update((prev + add,))
            yield pd.DataFrame([(int(key[0]), prev + add)], columns=["k", "n"])

        def close(self):
            pass

    def synth(n_rows, n_keys):
        d = os.path.join(
            tempfile.gettempdir(), f"rss_twsprobe_{n_rows}_{n_keys}_{uuid.uuid4().hex[:6]}"
        )
        os.makedirs(d)
        df = spark.range(n_rows).select(
            F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
            F.col("id").alias("v"),
        )
        from remote_shuffle_spark.streaming.splitutil import materialize_split_files

        per = n_rows // 4
        materialize_split_files(
            [
                df.filter((F.col("v") >= i * per) & (F.col("v") < (i + 1) * per))
                for i in range(4)
            ],
            d,
        )
        return d

    import time as _t

    out = {}
    for tag, n_rows, n_keys in (
        ("warmup", 20_000, 200),  # codegen + Python-worker pool spin-up
        ("base_200k_rows_2k_keys", 200_000, 2_000),
        ("keys_x4", 200_000, 8_000),
        ("rows_x4", 800_000, 2_000),
    ):
        d = synth(n_rows, n_keys)
        s2 = stream_session(spark)
        s2.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        stream = (
            s2.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        res = stream.groupBy("k").transformWithStateInPandas(
            Count(), "k long, n long", "Update", "none"
        )
        t0 = _t.perf_counter()
        q = res.writeStream.outputMode("update").format("noop").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out[tag] = round(_t.perf_counter() - t0, 1)
        shutil.rmtree(d, ignore_errors=True)
        print(f"  tws {tag}: {out[tag]}s", file=sys.stderr)
    out["keys_x4_ratio"] = round(out["keys_x4"] / out["base_200k_rows_2k_keys"], 2)
    out["rows_x4_ratio"] = round(out["rows_x4"] / out["base_200k_rows_2k_keys"], 2)
    # the model: key-scaling dominates row-scaling
    assert out["keys_x4_ratio"] > out["rows_x4_ratio"], out
    return out


if __name__ == "__main__":
    main()
