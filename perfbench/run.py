"""The repo's benchmark: one workload, one closed-loop client, one command.

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 18 --trace 0

Run from the repository root.  It builds its sf0.1 fixtures under
``perfbench/.data`` (once per checkout), starts the engine session through
``get_session(EngineConfig(...))`` on ``local[nproc]``, and then:

1. sets up the session: JVM launch, SparkContext and one warm-up job
   (``setup_s``);
2. cold pass: every query of the workload's subset once, in the seed's
   order, collecting each result (``cold_wall_s``, in the record);
3. steady passes: the subset again through the noop sink, as many passes as
   fill ``--seconds`` at the workload's nominal pass time on a 4-core host
   (``wall_s`` = median pass, ``query_p50_s``; ``query_tail_s`` in the record);
4. checks every collected result against its DuckDB oracle, outside the
   timed passes (``failed``/``attempted``);
5. with ``--trace 1``, restarts the session with Spark's event log on, runs
   each query once untraced and once under spans and layer timers, and
   reports the per-layer metrics instead (METRICS.md).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
full record (regime stamp, per-query times, trace) goes to
``perfbench/results/<workload>_c<cpus>_s<seed>[_trace].json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
from statistics import median
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.1
DATA_SEED = 42  # fixtures are the same for every run; the run seed orders queries

sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, OPERATOR_MODULES, tail_percentile  # noqa: E402
from tracing import function_stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=int, default=18,
        help="length of the steady region: it runs round(seconds / nominal pass time) passes "
        "(at least the workload's minimum), so it lasts about this long on a 4-core host",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- process tree ------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of each process's peak RSS (VmHWM) over this process and its
    descendants: the driver's Python, the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and its descendants: the driver's Python, the JVM and its
    Python workers."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ticks += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
    return ticks / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM and wait until it and its children exit.

    The JVM exits when its stdin closes; Python workers exit with it."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# --- regime stamp --------------------------------------------------------------

def git_commit() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, check=True
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def regime(args, workload) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": nproc(),
        "sf": SF,
        "commit": git_commit(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "queries": list(workload.queries),
        "seconds": args.seconds,
        "passes": workload.steady_passes(args.seconds),
    }


def result_path(reg: dict) -> str:
    """``results/<workload>_c<cpus>_s<seed>[_trace].json``; an existing file
    of another regime is kept and the new record gets the next free suffix."""
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{reg['workload']}_c{reg['cpus']}_s{reg['seed']}" + ("_trace" if reg["trace"] else "")
    path, n = os.path.join(out_dir, stem + ".json"), 1
    while os.path.exists(path):
        try:
            with open(path) as fh:
                if json.load(fh).get("regime") == reg:
                    return path
        except (OSError, ValueError):
            pass
        print(f"perfbench: {path} holds another regime; not replacing it", file=sys.stderr)
        n += 1
        path = os.path.join(out_dir, f"{stem}.{n}.json")
    return path


# --- session -------------------------------------------------------------------

def engine_config(work: str, extra: dict[str, str] | None = None):
    from remote_shuffle_spark import EngineConfig

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    conf.update(extra or {})
    return EngineConfig(app_name="perfbench", master=f"local[{nproc()}]", extra=conf)


def warm_up(spark, workload: str, sf_dir: str, seed: int) -> None:
    """One small action so the first timed query finds executors running."""
    if workload == "shuffle_bulk":
        from workloads import materialize, shuffle_source, shuffled

        materialize(shuffled(shuffle_source(spark, seed, rows=1 << 12)))
    else:
        from remote_shuffle_spark.sources.tables import load_table

        load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count().collect()


def set_up(args, sf_dir: str, work: str) -> tuple[object, dict]:
    """Start the session, launching the JVM, and warm it up."""
    from remote_shuffle_spark import get_session

    c0, s0, t0 = tree_cpu_s(), host_steal_s(), time.perf_counter()
    spark = get_session(engine_config(work))
    t1 = time.perf_counter()
    warm_up(spark, args.workload, sf_dir, args.seed)
    t2 = time.perf_counter()
    return spark, {"get_session_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0,
                   "cpu_s": tree_cpu_s() - c0, "steal_s": host_steal_s() - s0}


# --- passes --------------------------------------------------------------------

def timed_passes(passes: int, one_pass) -> tuple[list, list[dict]]:
    """Run ``one_pass(i)`` for ``i < passes``; return all runs and each pass's
    wall time, process-tree CPU time and host steal time."""
    runs, costs = [], []
    for i in range(passes):
        c0, s0, t0 = tree_cpu_s(), host_steal_s(), time.perf_counter()
        runs += one_pass(i)
        costs.append({"wall": time.perf_counter() - t0, "cpu": tree_cpu_s() - c0, "steal": host_steal_s() - s0})
    return runs, costs


def query_passes(spark, sf_dir: str, order: list[str], passes: int) -> dict:
    import __spark_entry__ as entry
    from check import OracleChecker
    from workloads import run_query

    qs = entry.queries()
    cold, cold_costs = timed_passes(1, lambda _i: [run_query(spark, qs[n], n, sf_dir, collect=True) for n in order])
    steady, costs = timed_passes(
        passes, lambda _i: [run_query(spark, qs[n], n, sf_dir, collect=False) for n in order]
    )
    rss = peak_rss_mb()
    checker = OracleChecker(sf_dir, entry.oracle_sql())
    failures = {r.name: r.error for r in steady if r.error}
    try:
        for c in cold:
            try:
                detail = c.error or checker.check(c.name, c.result)
            except Exception as e:  # noqa: BLE001 — an oracle that cannot run fails the query
                detail = f"oracle: {type(e).__name__}: {e}"
            if detail:
                failures.setdefault(c.name, detail)
            c.result = None
    finally:
        checker.close()
    return {"cold": cold, "cold_cost": cold_costs[0], "steady": steady, "pass_costs": costs, "rss": rss,
            "failures": failures, "attempted": len(order)}


def shuffle_passes(spark, seed: int, rounds: int) -> dict:
    """A cold round, then ``rounds`` steady rounds (a round is a pass)."""
    from workloads import (
        RAW_BYTES_PER_ROW, SHUFFLE_ROWS, run_shuffle_round, shuffle_checksum, shuffle_source, shuffled,
    )

    src = shuffle_source(spark, seed)
    cold, cold_costs = timed_passes(1, lambda _i: [run_shuffle_round(spark, src, label="round_0")])
    steady, costs = timed_passes(
        rounds, lambda i: [run_shuffle_round(spark, src, label=f"round_{i + 1}")]
    )
    rss = peak_rss_mb()
    failures: dict[str, str] = {}
    for r in cold + steady:
        if r.error:
            failures[r.name] = r.error
    try:
        before, after = shuffle_checksum(src), shuffle_checksum(shuffled(src))
        if before != after or before[0] != SHUFFLE_ROWS:
            failures.setdefault(cold[0].name, f"checksum before {before} after {after}")
    except Exception as e:  # noqa: BLE001 — counted as a failed check
        failures.setdefault(cold[0].name, f"checksum: {type(e).__name__}: {e}")
    raw_mb = SHUFFLE_ROWS * RAW_BYTES_PER_ROW / 1e6
    return {"cold": cold, "cold_cost": cold_costs[0], "steady": steady, "pass_costs": costs, "rss": rss,
            "failures": failures, "attempted": len(cold) + len(steady), "raw_mb_per_round": raw_mb}


def end_to_end(setup: dict, passes: dict) -> tuple[dict, dict]:
    steady = [r.seconds for r in passes["steady"] if not r.error]
    tail = tail_percentile(steady)
    values = {
        "setup_s": setup["total_s"],
        "wall_s": median(c["wall"] for c in passes["pass_costs"]),
        "cold_wall_s": sum(r.seconds for r in passes["cold"]),
        "query_p50_s": median(steady) if steady else 0.0,
        "query_tail_s": tail[0] if tail else max(steady, default=0.0),
        "peak_rss_mb": passes["rss"],
    }
    info = {"query_tail": {"percentile": tail[1] if tail else 100, "n": len(steady),
                           "rule_met": tail is not None}}
    return values, info


def workload_e2e(passes: dict, layers: dict | None) -> dict:
    out = {
        "failed_frac": len(passes["failures"]) / passes["attempted"],
        "batch_p50_ms": 0.0,
        "batch_tail_ms": 0.0,
        "shuffle_write_MBps": 0.0,
        "shuffle_read_MBps": 0.0,
    }
    if layers is None:
        return out
    batch_ms = [b for q in layers.values() for b in q.as_dict()["batch_ms"]]
    if batch_ms:
        tail = tail_percentile(batch_ms)
        out["batch_p50_ms"] = median(batch_ms)
        out["batch_tail_ms"] = tail[0] if tail else max(batch_ms)
    if "raw_mb_per_round" in passes:
        stages = [s for q in layers.values() for s in q.stages]
        write_s = sum((s["complete_ms"] - s["submit_ms"]) / 1000 for s in stages if s["shuffle_write_bytes"])
        read_s = sum((s["complete_ms"] - s["submit_ms"]) / 1000 for s in stages if s["shuffle_read_bytes"])
        raw = passes["raw_mb_per_round"] * len(layers)
        out["shuffle_write_MBps"] = raw / write_s if write_s else 0.0
        out["shuffle_read_MBps"] = raw / read_s if read_s else 0.0
    return out


# --- traced pass -----------------------------------------------------------------

def traced_pass(args, workload, sf_dir: str, work: str, order: list[str], passes: int) -> dict:
    """Restart the session with the event log on, run the subset (a third of
    the steady rounds for ``shuffle_bulk``) once to warm it (the new context
    starts its Python workers afresh), then run each operation twice: once
    untraced and once under spans, a job group and the layer timers, the
    traced run second for even and first for odd operations.  Adjacent runs
    in alternating order make the traced/untraced ratio the tracing overhead,
    not the JIT warming up from one run to the next.  Return the raw trace
    and both sets of runs."""
    from remote_shuffle_spark import get_session
    from tracing import LayerTimers, Tracer, event_log_conf, query_windows, read_event_log, summarize
    from workloads import run_query, run_shuffle_round, shuffle_source

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = get_session(engine_config(work, event_log_conf(log_dir)))
    warm_up(spark, args.workload, sf_dir, args.seed)
    sc = spark.sparkContext
    if workload.queries:
        import __spark_entry__ as entry

        qs = entry.queries()
        ops = [(n, lambda t, n=n: run_query(spark, qs[n], n, sf_dir, collect=False, tracer=t)) for n in order]
    else:
        src = shuffle_source(spark, args.seed)
        ops = [
            (f"round_{i + 1}", lambda t, i=i: run_shuffle_round(spark, src, tracer=t, label=f"round_{i + 1}"))
            for i in range(max(1, passes // 3))
        ]

    for _name, op in ops:
        op(None)
    tracer = Tracer()
    timers = LayerTimers(tracer)
    runs, baseline = [], []
    for i, (name, op) in enumerate(ops):
        for traced in (False, True) if i % 2 == 0 else (True, False):
            if not traced:
                baseline.append(op(None))
                continue
            timers.install()
            sc.setJobGroup(name, name)
            try:
                runs.append(op(tracer))
            finally:
                timers.uninstall()
                sc.setLocalProperty("spark.jobGroup.id", None)
    rss = peak_rss_mb()
    spark.stop()
    layers = summarize(read_event_log(log_dir), query_windows(tracer.spans))
    return {"runs": runs, "baseline": baseline, "spans": tracer.spans, "layers": layers, "rss": rss}


def per_layer(setup: dict, traced: dict, passes: dict, e2e: dict) -> dict:
    L = list(traced["layers"].values())
    tot = lambda attr: sum(getattr(q, attr) for q in L)  # noqa: E731
    spans = traced["spans"]
    fstats = function_stats(spans)
    span_sum = lambda name: sum(s["end"] - s["start"] for s in spans if s["name"] == name)  # noqa: E731
    stages_total = sum(len(q.stage_ids) for q in L)
    run_ms, cpu_ms = tot("run_ms"), tot("cpu_ms")
    batches = [b for q in L for b in q.batches]

    def batch_sum(key: str) -> float:
        return float(sum(b.get("durationMs", {}).get(key, 0) for b in batches))

    def state_sum(key: str, custom: bool = False) -> float:
        return float(sum(
            (op.get("customMetrics", {}) if custom else op).get(key, 0)
            for b in batches for op in b.get("stateOperators", [])
        ))

    # state rows held at the end of each stream: its last batch's rows
    last_by_stream: dict[str, dict] = {}
    for b in batches:
        last_by_stream[b["runId"]] = b
    values = {
        "session.get_session_s": setup["get_session_s"],
        "session.warmup_s": setup["warmup_s"],
        "queries.build_s": span_sum("build"),
        "queries.build_jobs": tot("build_jobs"),
        "exec.materialize_s": span_sum("materialize"),
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages_run"),
        "exec.tasks": tot("tasks"),
        "exec.stages_skipped_ratio": (stages_total - tot("stages_run")) / stages_total if stages_total else 0.0,
        "executor.run_ms": run_ms,
        "executor.cpu_ms": cpu_ms,
        "executor.gc_ms": tot("gc_ms"),
        "executor.cpu_ratio": cpu_ms / run_ms if run_ms else 0.0,
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.records_written": tot("shuffle_records_written"),
        "shuffle.write_time_ms": tot("shuffle_write_time_ms"),
        "shuffle.fetch_wait_ms": tot("fetch_wait_ms"),
        "shuffle.spill_disk_bytes": tot("spill_disk_bytes"),
        "shuffle.spill_memory_bytes": tot("spill_memory_bytes"),
        "sources.input_bytes": tot("input_bytes"),
        "sources.input_records": tot("input_records"),
        "sources.load_table_s": fstats.get("sources.tables.load_table", {}).get("s", 0.0),
        "plans.checkpoint_to_calls": fstats.get("plans.shuffle_policy.checkpoint_to", {}).get("calls", 0),
        "plans.checkpoint_to_s": fstats.get("plans.shuffle_policy.checkpoint_to", {}).get("s", 0.0),
        "plans.output_bytes": tot("output_bytes"),
        "python.bytes_sent": tot("py_sent"),
        "python.bytes_received": tot("py_received"),
        "python.rows_received": tot("py_rows"),
        "streaming.batches": len(batches),
        "streaming.input_rows": float(sum(src.get("numInputRows", 0) for b in batches for src in b.get("sources", []))),
        "streaming.query_planning_ms": batch_sum("queryPlanning"),
        "streaming.add_batch_ms": batch_sum("addBatch"),
        "streaming.wal_commit_ms": batch_sum("walCommit"),
        "streaming.commit_offsets_ms": batch_sum("commitOffsets"),
        "streaming.state_commit_ms": state_sum("commitTimeMs"),
        "streaming.rocksdb_zip_upload_ms": state_sum("rocksdbSaveZipFilesLatencyMs", custom=True),
        "streaming.state_rows_total": float(sum(
            op.get("numRowsTotal", 0) for b in last_by_stream.values() for op in b.get("stateOperators", [])
        )),
        "trace.overhead_ratio": sum(r.seconds for r in traced["runs"]) / sum(r.seconds for r in traced["baseline"]),
    }
    for m in OPERATOR_MODULES:
        st = fstats.get(f"operators.{m}", {})
        values[f"operators.{m}_calls"] = st.get("calls", 0)
        values[f"operators.{m}_s"] = st.get("s", 0.0)
    for k in ("cold_wall_s", "query_tail_s"):
        values[k] = e2e[k]
    values.update(workload_e2e(passes, traced["layers"]))
    return values


# --- main -------------------------------------------------------------------------

def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    JVM-spawned Python workers import the engine."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM the launcher starts: temp files in the work dir, and no
    # hsperfdata file (HotSpot writes it to /tmp whatever java.io.tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "remote_shuffle_spark")):
        print(f"perfbench: no engine package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    from datagen import ensure_fixtures
    from workloads import seeded_order

    sf_dir = ensure_fixtures(os.path.join(HERE, ".data", f"sf{SF}"), SF, DATA_SEED)
    work = os.path.join(HERE, ".work", f"run{os.getpid()}")
    prepare_environment(work)
    load_before = os.getloadavg()
    order = seeded_order(workload.queries, args.seed)
    n_passes = workload.steady_passes(args.seconds)
    try:
        spark, setup = set_up(args, sf_dir, work)
        if workload.queries:
            passes = query_passes(spark, sf_dir, order, n_passes)
        else:
            passes = shuffle_passes(spark, args.seed, n_passes)
        spark.stop()
        traced = traced_pass(args, workload, sf_dir, work, order, n_passes) if args.trace else None
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    failures = passes["failures"]
    for r in traced["baseline"] + traced["runs"] if traced else []:
        if r.error:
            failures.setdefault(r.name, f"traced pass: {r.error}")
    e2e, info = end_to_end(setup, passes)
    record = {
        "regime": regime(args, workload),
        "load_before": load_before,
        "load_after": os.getloadavg(),
        "order": order,
        "end_to_end": e2e,
        "workload_e2e": workload_e2e(passes, traced["layers"] if traced else None),
        **info,
        "attempted": passes["attempted"],
        "failures": failures,
        "setup": setup,
        "cold_cost": passes["cold_cost"],
        "pass_costs": passes["pass_costs"],
        **{
            name: [{"name": r.name, "s": r.seconds, "build_s": r.build_s, "exec_s": r.exec_s} for r in passes[name]]
            for name in ("cold", "steady")
        },
    }
    if traced:
        layer_values = per_layer(setup, traced, passes, e2e)
        record["per_layer"] = layer_values
        record["per_query"] = {q: v.as_dict() for q, v in traced["layers"].items()}
        record["spans"] = traced["spans"]
        record["functions"] = function_stats(traced["spans"])
        record["traced_peak_rss_mb"] = traced["rss"]
        metrics = {k: {"value": layer_values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    path = result_path(record["regime"])
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    for name, detail in failures.items():
        print(f"perfbench: FAILED {name}: {detail}", file=sys.stderr)
    failed = len(failures)
    print(json.dumps({"correct": failed == 0, "attempted": passes["attempted"], "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
