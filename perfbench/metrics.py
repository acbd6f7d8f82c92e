"""Metric names, units and the summary statistics the benchmark reports.

Pure Python (no Spark import), so the self-tests and ``BENCHMARK.json``
checks can use it without a session.  METRICS.md defines every metric.
"""

from __future__ import annotations

import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# End-to-end metrics every listed workload reports on an untraced run.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}

# End-to-end figures outside the bounded list.  The workload-specific ones
# are 0 on the workloads they do not apply to; ``query_tail_s`` would need
# 20+ steady samples per run to sit above the median, more than a listed
# run affords; ``cold_wall_s`` is one first-execution sample per run, which
# moves with the load of a shared host by more than any bound allows.  They
# travel with the per-layer set of a traced run and in every result artifact.
UNBOUNDED_E2E: dict[str, str] = {
    "cold_wall_s": "s",
    "query_tail_s": "s",
    "failed_frac": "ratio",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "shuffle_write_MBps": "MB/s",
    "shuffle_read_MBps": "MB/s",
}

OPERATOR_MODULES = ("dedup", "similarity", "udf", "text", "graph")

# Per-layer metrics of a traced run (layer = repo module).
PER_LAYER: dict[str, str] = {
    "session.get_session_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "exec.materialize_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.stages_skipped_ratio": "ratio",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.cpu_ratio": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records_written": "count",
    "shuffle.write_time_ms": "ms",
    "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_disk_bytes": "bytes",
    "shuffle.spill_memory_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.load_table_s": "s",
    "plans.checkpoint_to_calls": "count",
    "plans.checkpoint_to_s": "s",
    "plans.output_bytes": "bytes",
    **{f"operators.{m}_calls": "count" for m in OPERATOR_MODULES},
    **{f"operators.{m}_s": "s" for m in OPERATOR_MODULES},
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.rocksdb_zip_upload_ms": "ms",
    "streaming.state_rows_total": "count",
    "trace.overhead_ratio": "ratio",
    **UNBOUNDED_E2E,
}

# Direction of "better" for BENCHMARK.json; everything not listed is lower.
HIGHER_IS_BETTER = {
    "executor.cpu_ratio",
    "exec.stages_skipped_ratio",
    "shuffle_write_MBps",
    "shuffle_read_MBps",
}


def tail_percentile(samples: list[float]) -> tuple[float, int, int] | None:
    """Highest whole percentile that leaves at least 10 samples beyond it.

    Returns ``(value, percentile, n)``; the value is the order statistic at
    rank ``n - 10`` (1-based), i.e. exactly 10 samples are larger-ranked.
    The percentile is the largest whole ``p`` whose nearest-rank index
    ``ceil(p/100 * n)`` does not pass that rank.  ``None`` when ``n <= 10``:
    no percentile has 10 samples beyond it.
    """
    n = len(samples)
    if n <= 10:
        return None
    rank = n - 10

    def nearest_rank(p: int) -> int:  # ceil(p/100 * n) in integers
        return -(-p * n // 100)

    pct = 100 * rank // n
    while nearest_rank(pct) > rank:
        pct -= 1
    value = sorted(samples)[max(1, nearest_rank(pct)) - 1]
    return value, pct, n
