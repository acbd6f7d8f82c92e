"""Multi-executor smoke: the surfaces local[32] can't falsify.

local[*] runs everything in ONE JVM, so driver-only assumptions — py4j
private APIs on the query path, localCheckpoint blocks assumed reachable,
file paths visible only to the driver — pass silently and die on a real
cluster.  ``local-cluster[2,2,1024]`` starts two REAL separate executor
JVMs (same machine, real RPC, real remote block fetch), which is the
closest this container gets to cluster topology (Spark Connect would be
closer for the py4j dimension but its Python client needs grpcio plus
the FULL protobuf runtime — the vendored minimal shim that unlocked the
TWS seam covers only the StateMessage subset, and grpcio has no shim).

Pinned here: entry() end-to-end, the de-privatized CMS query (the
round-5 verdict's _jvm fragility — its probe must run without touching
the JVM handle), and connected_components' durable checkpoint mode
(edge materialization written by one executor set, read back across
executors)."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT

SCRIPT = r"""
import json, os
os.environ.setdefault("SPARK_HOME", "/opt/spark")
# Before the JVM exists: protobuf shim onto PYTHONPATH so the Python
# workers that REAL executor JVMs spawn can import it (the propagation
# local-mode can't falsify: driver env -> master -> executor JVM ->
# worker).  Sessions built through get_session do this implicitly; this
# script builds its own session, the documented pattern for that case.
# The REPO itself must also be on the worker PYTHONPATH: the TWS
# processor class pickles with its module path, and executor workers
# unpickle it by import (driver-only sys.path passed local[32] silently;
# a real executor raised ModuleNotFoundError - exactly the class of bug
# this smoke exists to catch.  Deployed clusters pip-install the
# package; tests propagate the checkout).
import sys; REPO = sys.argv[1]; sys.path.insert(0, REPO)
_pp = os.environ.get("PYTHONPATH", "")
if REPO not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + _pp if _pp else "")
from remote_shuffle_spark.vendor import ensure_protobuf, python_worker_conf
ensure_protobuf()
from pyspark.sql import SparkSession
MASTER = "local-cluster[2,2,1024]"
builder = (SparkSession.builder.master(MASTER)
    .appName("cluster_smoke")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false"))
# the engine's worker daemon: executor JVMs must find it on the exported
# worker PYTHONPATH, or no Python worker starts at all
for k, v in python_worker_conf(MASTER).items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
out = {}
import pandas as pd
from pyspark.sql import functions as F

@F.pandas_udf("string")
def _daemon(s: pd.Series) -> pd.Series:
    import sys
    spec = getattr(sys.modules["__main__"], "__spec__", None)
    return pd.Series([spec.name if spec else ""] * len(s))

out["udf_daemons"] = sorted({r.d for r in spark.range(0, 400, 1, 4).select(_daemon("id").alias("d")).collect()})
import __spark_entry__ as e
out["entry_rows"] = len(e.entry(spark).collect())
qs = e.queries()
sf = "/root/testdata/sf0.001"
hh = qs["ext_heavy_hitters"](spark, sf).collect()
out["heavy_hitters_rows"] = len(hh)
out["heavy_hitters_all_within_bound"] = all(r.cms_within_bound for r in hh)
from remote_shuffle_spark.operators.graph import connected_components
import tempfile
edges = spark.createDataFrame(
    [(i, i + 1) for i in range(6)] + [(10, 11)], "id_a long, id_b long")
with tempfile.TemporaryDirectory() as td:
    comp = connected_components(edges, checkpoint_dir=os.path.join(td, "cc"))
    out["cc"] = sorted((r.vertex, r.component) for r in comp.collect())
# TWS across REAL executors: the state server lives in the executor JVM
# and its Python worker must import the protobuf shim via the inherited
# PYTHONPATH — the one propagation path local[32] cannot falsify.
tws = qs["ext_stream_tws_limiter"](spark, sf).collect()
out["tws_rows"] = len(tws)
# round-9 surfaces whose plans changed or are new: the sort-merge-hinted
# substring dedup (hint must survive real remote shuffle) and the PQ
# encode/LUT/ADC pipeline (broadcast codebook reaches real executors)
sub = qs["ext_dedup_substring"](spark, sf).collect()
out["substring_rows"] = len(sub)
out["substring_dup_tokens"] = int(sum(r.dup_tokens for r in sub))
pq = qs["ext_pq_recall"](spark, sf).collect()
out["pq_rows"] = len(pq)
# round-11 persisted-index surfaces: both lifecycles write REAL files
# that a different executor set must read back (build by one job's
# executors, probe by another's — the materialized-state seam that
# local[32]'s single JVM cannot falsify), plus the collected-cells
# isin pushdown and the foreachBatch closure pickling to executors.
inc = {r.status: r.n_docs
       for r in qs["ext_dedup_incremental_minhash"](spark, sf).collect()}
out["inc_dedup_statuses"] = sorted(inc)
ivf = qs["ext_ivf_pq_indexed"](spark, sf).collect()
out["ivf_indexed_rows"] = len(ivf)
print("RESULT:" + json.dumps(out))
spark.stop()
"""


def test_local_cluster_smoke():
    # Two executor JVMs + a TWS stream under a loaded 32-core VM can blow
    # spawn deadlines; one retry distinguishes load flake from real break
    # (a genuine regression fails both runs identically).
    res = None
    for attempt in range(2):
        res = subprocess.run(
            [sys.executable, "-c", SCRIPT, str(REPO_ROOT)],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=REPO_ROOT,
        )
        if res.returncode == 0 and any(
            ln.startswith("RESULT:") for ln in res.stdout.splitlines()
        ):
            break
        with open(f"/tmp/cluster_smoke_fail_{attempt}.log", "w") as fh:
            fh.write(f"rc={res.returncode}\n--- STDOUT\n{res.stdout[-8000:]}\n--- STDERR\n{res.stderr[-12000:]}")
    assert res.returncode == 0, res.stderr[-3000:]
    result_lines = [ln for ln in res.stdout.splitlines() if ln.startswith("RESULT:")]
    assert result_lines, (
        "subprocess exited 0 without a RESULT line; see "
        "/tmp/cluster_smoke_fail_*.log -- stderr tail: " + res.stderr[-2000:]
    )
    line = result_lines[0]
    got = json.loads(line.removeprefix("RESULT:"))
    assert got["entry_rows"] > 0
    assert got["udf_daemons"] == ["rss_worker_daemon"]
    assert got["heavy_hitters_rows"] == 10
    assert got["heavy_hitters_all_within_bound"] is True
    want = [[i, 0] for i in range(7)] + [[10, 10], [11, 10]]
    assert got["cc"] == want
    assert got["tws_rows"] == 75  # 15 users x first-5 limiter at sf0.001
    assert got["substring_rows"] == 569  # 500 docs + 39 full + 30 prefix copies
    assert got["substring_dup_tokens"] > 0
    assert got["pq_rows"] == 8
    assert got["inc_dedup_statuses"] == ["exact_dup", "near_dup", "new"]
    assert got["ivf_indexed_rows"] == 20  # 4 probes x top-5
