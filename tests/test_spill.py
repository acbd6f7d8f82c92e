"""Spill-path correctness — the reference's central unit-test concern
(RemoteSorterSuite "spilling in local cluster", RemoteAppendOnlyMapSuite
force-spill suites; FIXTURES.md §B spill_rows).

A fresh subprocess runs the flagship aggregation + a wide sort with
``spark.shuffle.spill.numElementsForceSpillThreshold`` forced tiny, so
every aggregation/sort path external-spills, and asserts results equal
the no-spill session's.  (Subprocess because a JVM's SparkConf is fixed
at startup.)
"""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT

SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[4]")
    .appName("spill_probe")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.shuffle.spill.numElementsForceSpillThreshold", "100")
    .config("spark.sql.ui.retainedExecutions", "1")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
agg = (
    li.groupBy("l_orderkey")
    .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s"),
         F.count(F.lit(1)).alias("n"))
)
row = agg.agg(F.sum("s").cast("string").alias("total"),
              F.sum("n").alias("rows"),
              F.count(F.lit(1)).alias("groups")).collect()[0]
top = [r.l_orderkey for r in li.orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber").limit(5).collect()]
print(json.dumps({"total": row.total, "rows": row.rows, "groups": row.groups, "top": top}))
"""


def test_forced_spill_results_match(spark, sf_correct):
    from pyspark.sql import functions as F

    from remote_shuffle_spark.sources.tables import load_table

    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])

    li = load_table(spark, sf_correct, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    row = agg.agg(
        F.sum("s").cast("string").alias("total"),
        F.sum("n").alias("rows"),
        F.count(F.lit(1)).alias("groups"),
    ).collect()[0]
    top = [
        r.l_orderkey
        for r in li.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        ).limit(5).collect()
    ]
    assert got == {"total": row.total, "rows": row.rows, "groups": row.groups, "top": top}


SCRIPT_R3 = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.master("local[4]")
    .appName("spill_probe_r3")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.shuffle.spill.numElementsForceSpillThreshold", "100")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from remote_shuffle_spark.sources.tables import load_table
from remote_shuffle_spark.operators.dedup import semantic_dedup
from remote_shuffle_spark.operators.joins import fuzzy_self_join_blocked

emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
kept = semantic_dedup(emb, "vec_id", "embedding", threshold=0.45, num_cells=16)
sem = kept.agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("ids")).collect()[0]

cust = load_table(spark, "/root/testdata/sf0.01", "customer")
fj = fuzzy_self_join_blocked(cust, "c_custkey", "c_name")
fz = fj.agg(F.count(F.lit(1)).alias("n"), F.sum("id_a").alias("ids")).collect()[0]
print(json.dumps({"sem_n": sem.n, "sem_ids": sem.ids, "fz_n": fz.n, "fz_ids": fz.ids}))
"""


def test_forced_spill_round3_operators_match(spark, sf_correct):
    """Semantic dedup (Arrow per-cell verify) and the blocked fuzzy join
    under a force-spill JVM produce the same results as the no-spill
    session — the reference's force-spill suites applied to the round-3
    operators with real shuffle+Arrow paths."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.dedup import semantic_dedup
    from remote_shuffle_spark.operators.joins import fuzzy_self_join_blocked
    from remote_shuffle_spark.sources.tables import load_table

    out = subprocess.run(
        [sys.executable, "-c", SCRIPT_R3, str(REPO_ROOT)], capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])

    emb = load_table(spark, sf_correct, "embeddings")
    kept = semantic_dedup(emb, "vec_id", "embedding", threshold=0.45, num_cells=16)
    sem = kept.agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("ids")).collect()[0]
    cust = load_table(spark, sf_correct, "customer")
    fj = fuzzy_self_join_blocked(cust, "c_custkey", "c_name")
    fz = fj.agg(F.count(F.lit(1)).alias("n"), F.sum("id_a").alias("ids")).collect()[0]

    assert (got["sem_n"], got["sem_ids"]) == (sem.n, sem.ids)
    assert (got["fz_n"], got["fz_ids"]) == (fz.n, fz.ids)
