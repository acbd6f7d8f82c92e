"""Shuffle write/read-path config matrix — parity with the reference's
core test trick.

RemoteShuffleManagerSuite runs every end-to-end job under a matrix of
writer/reader paths (general / unsafe / bypass-merge / ±index-cache /
maxBlocksInFlightPerAddress=1 / eager fetch — ``testWithMultiplePath``,
RemoteShuffleManagerSuite.scala:101-134) and asserts the results are
path-independent.  The engine-level analog: the same shuffle-heavy
workload must produce bit-identical results under every Spark shuffle
path/codec/serializer configuration a deployment might flip.

All six configs run in ONE subprocess, one SparkContext after another
(SparkConf is fixed at context start, so each config stops the previous
session and builds a fresh one).  Each context reports the values its
SparkConf actually holds for every key the matrix sets — so a conf that
leaks into the next context, or is dropped, fails the test instead of
turning six runs into one baseline — and a canonical checksum of four
shuffle shapes: round-robin repartition, partial+final aggregation,
global sort top-k, and a sort-merge join.
"""

from __future__ import annotations

import json
import subprocess
import sys

WORKLOAD = r"""
import json, sys
from pyspark.sql import SparkSession, functions as F

matrix = json.loads(sys.argv[1])
keys = sorted({k for conf in matrix.values() for k in conf})
results = {}
for name, conf_pairs in matrix.items():
    b = (SparkSession.builder.master("local[4]").appName("path_matrix")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8"))
    for k, v in conf_pairs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    held = dict(spark.sparkContext.getConf().getAll())

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")

    rep = li.repartition(20).agg(F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s")).collect()[0]
    agg = (li.groupBy("l_orderkey")
             .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s")))
    agg_row = agg.agg(F.sum("s").cast("string").alias("total"), F.count(F.lit(1)).alias("groups")).collect()[0]
    top = [r.l_orderkey for r in li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber").limit(5).collect()]
    join_row = (orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("string").alias("rev"))
                .collect()[0])
    results[name] = {
        "conf": {k: held.get(k) for k in keys},
        "out": {
            "rep": [rep.n, rep.s],
            "agg": [agg_row.total, agg_row.groups],
            "top": top,
            "join": [join_row.n, join_row.rev],
        },
    }
    spark.stop()
print(json.dumps(results))
"""

# the engine-relevant analog of the reference's path matrix: each entry
# flips the shuffle writer path, on-wire format, or exchange planning
PATH_MATRIX: dict[str, dict[str, str]] = {
    "baseline_sort_shuffle": {},
    # bypass-merge path for low partition counts (the reference disables
    # it by default for remote storage — RemoteShuffleConf.scala:56-67 —
    # and implements it at RemoteBypassMergeSortShuffleWriter.java)
    "bypass_merge": {"spark.shuffle.sort.bypassMergeThreshold": "10000"},
    # serialized (unsafe) writer radix sort off → fallback comparator
    # sort (RemoteUnsafeShuffleSorter.java:139-140 radix opt-in)
    "no_radix_sort": {"spark.shuffle.sort.useRadixSort": "false"},
    # on-wire format changes (reference: any compression codec must
    # round-trip through its block streams)
    "no_shuffle_compress": {"spark.shuffle.compress": "false",
                            "spark.shuffle.spill.compress": "false"},
    "zstd_codec": {"spark.io.compression.codec": "zstd"},
    # kryo serializer + AQE off (reference suites parameterize over
    # Java/Kryo and test with/without adaptive partition coalescing)
    "kryo_no_aqe": {"spark.serializer": "org.apache.spark.serializer.KryoSerializer",
                    "spark.sql.adaptive.enabled": "false"},
}


def test_results_are_shuffle_path_independent():
    out = subprocess.run(
        [sys.executable, "-c", WORKLOAD, json.dumps(PATH_MATRIX)],
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    results = json.loads(out.stdout.strip().splitlines()[-1])
    assert list(results) == list(PATH_MATRIX)
    keys = sorted({k for conf in PATH_MATRIX.values() for k in conf})
    for name, got in results.items():
        want = {k: PATH_MATRIX[name].get(k) for k in keys}
        assert got["conf"] == want, f"path {name} ran with {got['conf']}, not {want}"
    baseline = results["baseline_sort_shuffle"]["out"]
    for name, got in results.items():
        assert got["out"] == baseline, f"path {name} diverged: {got['out']} vs {baseline}"
