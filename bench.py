"""Benchmark harness — runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "declared_query_wall_time", "value": <steady total sec>,
     "unit": "sec", "queries": {"q01_...": sec, ...},
     "queries_first_exec": {...}, "value_first_exec": <sec>, "sf": 0.1}

Each query is fully materialized through the noop sink (computes
everything, writes nothing) so the timing covers the whole plan, not an
early-out count.  Every query runs TWICE in the same session:
``queries`` / ``value`` report the second (steady-state) execution —
first execution pays one-time whole-stage-codegen compilation, measured
at ~1.3x median inflation (q27: 5.5 s first vs 0.37 s steady), which two
rounds of trend analysis had to caveat in prose — and
``queries_first_exec`` keeps the cold numbers so nothing is hidden.
The final stdout line is a COMPACT JSON (totals, n_queries, slowest-20
steady map) sized to survive the driver's 2000-char tail; the full
per-query first/steady maps are written to ``BENCH_full.json`` and to
the per-core-count ``BENCH_full_c<cpus>.json`` next to this script for
round-over-round comparison (see :func:`artifact_names`).
Usage: ``python bench.py [--queries name1,name2] [--repeat 1]`` (repeat 1
restores the old single-run behavior; queries then reports first-exec).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def artifact_names(family: str | None, queries: str | None, cpus: str) -> list[str]:
    """Files the full per-query map goes to.  A ``--family`` run gets its
    own file and a ``--queries`` subset a scratch file, so neither
    clobbers the full-map artifact the round-over-round compare reads.
    A full run writes the legacy ``BENCH_full.json`` and
    ``BENCH_full_c<cpus>.json``: runs at two core counts each keep their
    own map instead of the second silently overwriting the first."""
    if family:
        return [f"BENCH_family_{family}.json"]
    if queries:
        return ["BENCH_subset.json"]
    return ["BENCH_full.json", f"BENCH_full_c{cpus}.json"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument(
        "--family",
        default=None,
        help="quiet-VM family re-measure: run ONLY queries whose name "
        "contains this substring (e.g. 'tws', 'dedup') in a fresh "
        "session, so chatty families get numbers free of the ambient "
        "broadcast/GC state a 230-query session accumulates (round 8 "
        "measured the same TWS query at 28.1 s mid-session vs 9.5 s "
        "solo).  Full map goes to BENCH_family_<fam>.json.",
    )
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=2, help="executions per query; last one is the reported steady time")
    args = ap.parse_args()

    # Validate flag combinations BEFORE the Spark import below — a usage
    # error must not cost a full JVM/session startup (r12 ADVICE).
    if args.queries and args.family:
        # selection would honor --queries while the artifact filename honors
        # --family — a 1-query map silently replacing a family baseline
        raise SystemExit("--queries and --family are mutually exclusive")

    from remote_shuffle_spark import EngineConfig, get_session

    # 8g driver: local mode is driver-only, and a 199-query session
    # accumulates broadcast blocks between periodic GCs — the 1g default
    # OOM'd a broadcast build ~130 queries in (round 7).  8g is the
    # documented probe sweet spot (scripts/scale_probe.py).
    spark = get_session(
        EngineConfig(app_name="remote_shuffle_spark_bench", driver_memory="8g")
    )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.queries:
        names = args.queries.split(",")
    elif args.family:
        names = [n for n in qs if args.family in n]
        if not names:
            raise SystemExit(f"no queries match family {args.family!r}")
    else:
        names = list(qs)

    sf_name = os.path.basename(args.sf_dir.rstrip("/"))
    sf = float(sf_name.removeprefix("sf")) if sf_name.startswith("sf") else None

    # JVM/codegen warm-up (not timed)
    materialize(qs["q01_scan_filter_agg"](spark, args.sf_dir))

    first: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in names:
        for rep in range(max(1, args.repeat)):
            t0 = time.perf_counter()
            materialize(qs[name](spark, args.sf_dir))
            took = round(time.perf_counter() - t0, 3)
            if rep == 0:
                first[name] = took
            steady[name] = took
        print(f"  {name}: first {first[name]:.2f}s steady {steady[name]:.2f}s", file=sys.stderr)

    result = {
        "metric": "declared_query_wall_time",
        "value": round(sum(steady.values()), 3),
        "unit": "sec",
        "queries": steady,
        "queries_first_exec": first,
        "value_first_exec": round(sum(first.values()), 3),
        "sf": sf,
        # the core count, so any consumer can tell which regime a
        # BENCH_full.json belongs to
        "cpus": os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count()),
    }
    # The driver records only the LAST 2000 chars of output, which the full
    # 188-query map overflows (BENCH_r06 parsed:null).  Persist the full map
    # to a repo file for round-over-round per-query comparison, and make the
    # FINAL stdout line a compact JSON — totals + the slowest-20 steady
    # times — that always fits in the tail.
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in artifact_names(args.family, args.queries, result["cpus"]):
        with open(os.path.join(here, fname), "w") as fh:
            json.dump(result, fh, sort_keys=True)
    slowest = dict(sorted(steady.items(), key=lambda kv: -kv[1])[:20])
    # FIXED sentinel block (r14 verdict, next-round item 2): the compact
    # tail used to carry ONLY the slowest-20, so the driver's
    # round-over-round diff read rotation as "dropped" and one ambient
    # burst as a family regression.  These five are stable ~1 s mid-cost
    # queries on code no optimization round touches (pure shuffle,
    # codegen arithmetic, text explode+agg, session window, column
    # expressions) — present in every compact map from r15 on, they give
    # the cross-round compare a fixed common set and an ambient control:
    # if the sentinels move together, the run's regime moved, not the
    # code.  Additions-only: the slowest-20 stay, names never change.
    SENTINELS = (
        "q02_repartition",
        "q30_math_funcs",
        "ext_tf_idf",
        "ext_sessionize",
        "ext_quality_features",
    )
    for s in SENTINELS:
        if s in steady:
            slowest.setdefault(s, steady[s])
    compact = {
        "metric": "declared_query_wall_time",
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(steady),
        "value_first_exec": result["value_first_exec"],
        "queries": slowest,
        "sentinels": [s for s in SENTINELS if s in steady],
        "queries_note": "slowest-20 steady + 5 fixed sentinels; "
        "full per-query map in BENCH_full.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
