"""Workload definitions and the closed-loop passes that execute them.

Every workload is one client issuing one operation at a time against one
driver process on ``local[nproc]``: a query workload runs its fixed query
subset sequentially, in an order permuted by the run's seed; ``shuffle_bulk``
runs rounds of the reference's PerformanceEvaluationTool geometry.
"""

from __future__ import annotations

import contextlib
import random
import time
from dataclasses import dataclass, field

# Query subsets.  A run starts a fresh JVM: its launch and first job cost
# 8-15 s on a 4-core host before any query runs, and 22 runs of each listed
# workload must fit in under an hour, so a run affords one cold pass and
# about 18-25 s of steady passes.  The subsets are cut to 3.5-8 s passes so
# that the steady region holds three (``llm_dedup``) or five (``sql_batch``)
# of them and ``wall_s`` is a median, which a burst of load on a shared host
# during one pass does not move.
# Each keeps its workload's character: ``sql_batch`` sorts, joins, windows
# and aggregates through exchanges; ``llm_dedup`` keeps the pandas UDF
# boundary (``ext_semantic_dedup``), a stateful stream
# (``ext_stream_dedup``) and the iterative selection (``ext_mmr_select``).
SQL_BATCH = (
    "q04_global_sort",
    "q08_distinct",
    "q13_anti_join",
    "q17_window_topk",
    "q22_pivot",
    "q41_shipping_priority",
    "ext_salted_join",
)
LLM_DEDUP = (
    "ext_dedup_exact",
    "ext_mmr_select",
    "ext_semantic_dedup",
    "ext_similarity_topk",
    "ext_stream_dedup",
)
STREAM_TWS = ("ext_stream_tws_available_now",)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()
    pass_s: float = 1.0  # nominal steady pass (a shuffle round) on a 4-core host
    min_passes: int = 1
    listed: bool = True  # part of BENCHMARK.json (fits the run budget)

    def steady_passes(self, seconds: float) -> int:
        """Passes that fill ``seconds`` at the nominal pass time."""
        return max(self.min_passes, round(seconds / self.pass_s))


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "sql_batch",
            "relational and TPC-H shapes at sf0.1: exchange, codegen and scan "
            "bound, read-only, no Python worker or stream",
            SQL_BATCH,
            pass_s=3.6,
            min_passes=3,
        ),
        Workload(
            "llm_dedup",
            "dedup and similarity queries at sf0.1: build-time driver round "
            "trips, iterative selection, a stateful stream, the pandas UDF boundary",
            LLM_DEDUP,
            pass_s=6.0,
            min_passes=3,
        ),
        Workload(
            "shuffle_bulk",
            "random incompressible rows through one hash repartition: the "
            "reference's shuffle write/read geometry on the engine session",
            pass_s=1.0,
            min_passes=11,  # the tail rule needs more than 10 samples
            listed=False,
        ),
        Workload(
            "stream_tws",
            "transformWithState streams: micro-batch planning, state commit, "
            "RocksDB upload and the Python state server",
            STREAM_TWS,
            pass_s=14.0,
            listed=False,
        ),
    )
}


def seeded_order(names: tuple[str, ...], seed: int) -> list[str]:
    """The run's query order: a permutation of ``names`` fixed by ``seed``."""
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


@dataclass
class QueryRun:
    name: str
    seconds: float
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    result: object = field(default=None, repr=False)  # pandas frame (collect pass)


def materialize(df) -> None:
    """Compute every row and write nothing (the noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def run_query(spark, fn, name: str, sf_dir: str, *, collect: bool, tracer=None) -> QueryRun:
    """Build and execute one query; never raises (a failure is recorded)."""
    run = QueryRun(name, 0.0)
    span = tracer.span if tracer else (lambda *_a, **_k: contextlib.nullcontext())
    t0 = time.perf_counter()
    try:
        with span("query", query=name):
            with span("build", query=name):
                df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            with span("materialize", query=name):
                if collect:
                    run.result = df.toPandas()
                else:
                    materialize(df)
            t2 = time.perf_counter()
        run.build_s, run.exec_s = t1 - t0, t2 - t1
    except Exception as e:  # noqa: BLE001 — a failed query is counted, the pass goes on
        run.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    run.seconds = time.perf_counter() - t0
    return run


# --- shuffle_bulk -------------------------------------------------------------

SHUFFLE_MAPPERS = 16
SHUFFLE_REDUCERS = 8
SHUFFLE_PAYLOAD_LONGS = 128
SHUFFLE_ROWS = 1 << 17  # 129 MiB raw per round
RAW_BYTES_PER_ROW = 8 + 8 * SHUFFLE_PAYLOAD_LONGS


def shuffle_source(spark, seed: int, rows: int = SHUFFLE_ROWS):
    """Pseudo-random (incompressible) rows, generated on the executors.

    Each payload long is ``xxhash64(id)`` XOR a per-position constant drawn
    from ``seed`` — the generator of ``scripts/shuffle_bench.py`` with a
    seeded constant table, so near-zero compute sits in the write phase.
    """
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    consts = [rng.getrandbits(64) - (1 << 63) for _ in range(SHUFFLE_PAYLOAD_LONGS)]
    base = F.xxhash64(F.col("id"))
    payload = F.array(*[base.bitwiseXOR(F.lit(c)) for c in consts])
    return spark.range(0, rows, 1, SHUFFLE_MAPPERS).select("id", payload.alias("payload"))


def shuffled(src):
    from pyspark.sql import functions as F

    return src.repartition(SHUFFLE_REDUCERS, F.col("id"))


def shuffle_checksum(df) -> tuple[int, int]:
    """(row count, order-insensitive sum of per-row xxhash64)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("id", "payload").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def run_shuffle_round(spark, src, tracer=None, label: str = "round") -> QueryRun:
    return run_query(spark, lambda _s, _d: shuffled(src), label, "", collect=False, tracer=tracer)
