"""The driver contract must hold under the DRIVER'S session, not ours: a
vanilla SparkSession (no engine config, non-UTC timezone) must still run
entry() and the session-sensitive queries correctly."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT

SCRIPT = r"""
import json
from pyspark.sql import SparkSession

# deliberately NOT EngineConfig: default confs + a non-UTC timezone,
# exactly the hostile-driver scenario
spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla_driver")
    .config("spark.sql.session.timeZone", "America/Los_Angeles")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

out = {"entry_rows": len(e.entry(spark).collect())}
qs = e.queries()
sf = "/root/testdata/sf0.001"
# ext_stream_tws_limiter is the round-7 regression: the TWS state protocol
# needs the protobuf shim on the WORKER path, and this vanilla session
# froze its JVM env before the package was imported — the query only works
# if ensure_protobuf() patches the live SparkContext.environment.
for name in ["q07_groupbykey_collect", "q16_null_keys", "q23_json_scalar",
             "q24_date_parts", "ext_asof_join", "ext_stream_window",
             "ext_stream_tws_limiter", "ext_python_datasource_write",
             "ext_cohort_retention"]:
    df = qs[name](spark, sf)
    out[name] = df.count()
print(json.dumps(out))
"""


def test_vanilla_session_runs_sensitive_queries(spark, sf_smoke):
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["entry_rows"] > 0

    # row counts must equal what our configured session produces
    import __spark_entry__ as e

    qs = e.queries()
    for name in ["q07_groupbykey_collect", "q16_null_keys", "q23_json_scalar",
                 "q24_date_parts", "ext_asof_join", "ext_stream_window",
                 "ext_stream_tws_limiter", "ext_python_datasource_write",
                 "ext_cohort_retention"]:
        assert got[name] == qs[name](spark, sf_smoke).count(), name


def test_timestamp_rendering_is_utc_under_foreign_timezone(spark, sf_smoke):
    """ext_stream_window renders window_start strings; they must match the
    UTC oracle even when the ambient session tz differs (ensure_session_
    defaults repins it)."""
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            r"""
import json
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "Asia/Tokyo")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
df = e.queries()["ext_stream_window"](spark, "/root/testdata/sf0.001")
print(json.dumps(df.select("window_start").limit(1).collect()[0].window_start))
""",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=REPO_ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    first = json.loads(out.stdout.strip().splitlines()[-1])
    import duckdb

    con = duckdb.connect()
    expect = con.execute(
        "SELECT strftime(min(time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))), '%Y-%m-%d %H:%M:%S') "
        "FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchone()[0]
    assert first == expect


def test_update_driver_verified_matches_current_set():
    """The helper's output over r01+r02 must be a superset of the
    hand-maintained DRIVER_VERIFIED (q29 deliberately absent: its r2 row
    was rows-only, so it rotated back into the unverified window)."""
    import sys

    sys.path.insert(0, "scripts")
    from update_driver_verified import verified_names

    from remote_shuffle_spark.queries import DRIVER_VERIFIED

    names = set(verified_names())
    assert DRIVER_VERIFIED <= names | {"q29_approx_agg"}
    # every name the helper reports exists in the registry
    import remote_shuffle_spark.ext_queries  # noqa: F401
    from remote_shuffle_spark.queries import REGISTRY

    assert names <= set(REGISTRY)


def test_stalest_queries_occupy_gate_slots():
    """The external gate hash-checks only the FIRST 50 queries() entries.
    Ordering contract: never-driver-verified queries (round 0) must all sit
    in those slots, and among verified rows the window must hold the ones
    with the OLDEST last-green round — no query outside the window may be
    staler than one inside it."""
    import __spark_entry__ as entrymod
    from remote_shuffle_spark.queries import (
        DRIVER_LATEST_FAILED,
        DRIVER_VERIFIED_ROUND,
        REGISTRY,
    )

    names = list(entrymod.queries())
    first50, rest = names[:50], names[50:]
    # effective rank: latest-check-FAILED rows outrank everything (-1)
    rnd = lambda n: (
        -1 if n in DRIVER_LATEST_FAILED else DRIVER_VERIFIED_ROUND.get(n, 0)
    )
    # every known-red row must sit in the gate window
    assert all(n in set(first50) for n in DRIVER_LATEST_FAILED if n in REGISTRY)
    unverified = [n for n in REGISTRY if rnd(n) <= 0]
    missing = [n for n in unverified if n not in set(first50)]
    if len(unverified) <= 50:
        assert not missing, f"unverified queries outside the gate window: {missing}"
    else:
        # more unverified rows than slots (a >38-addition round): the
        # overflow must be exactly the NEWEST-registered tail — those rows
        # lead the next round's window, so nothing unverified is displaced
        # by a verified row and nothing can sit outside indefinitely
        reg_pos = {n: i for i, n in enumerate(REGISTRY)}
        assert missing, "overflow expected when unverified > 50"
        assert all(rnd(n) <= 0 for n in first50), (
            "a verified row occupies a gate slot while unverified rows overflow"
        )
        windowed_unverified_max = max(
            reg_pos[n] for n in unverified if n in set(first50)
        )
        assert all(reg_pos[n] > windowed_unverified_max for n in missing), (
            f"overflowed unverified rows are not the newest-registered: {missing}"
        )
    if rest:
        assert max(rnd(n) for n in first50) <= min(rnd(n) for n in rest), (
            "gate window does not hold the stalest-verified rows"
        )
    # and the ordering itself is deterministic across import orders
    assert names == list(entrymod.queries())


def test_for_cluster_sets_scale_confs():
    """The cluster preset must carry the knobs that change at 1000
    executors: AQE advisory size, decommission resilience, and RocksDB
    CHANGELOG checkpointing (per-batch delta upload instead of full-state
    snapshots — the TWS cost-model guard, stateful_v2.py docstring)."""
    from remote_shuffle_spark import EngineConfig

    conf = EngineConfig.for_cluster(total_cores=4000).to_conf()
    assert conf["spark.sql.shuffle.partitions"] == "10000"
    assert (
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"]
        == "true"
    )
    assert conf["spark.decommission.enabled"] == "true"
    assert conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] == "128m"
