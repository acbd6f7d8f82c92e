"""Self-tests of the benchmark (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The event-log test starts a local Spark session on sf0.001 fixtures it
generates itself; the others are pure Python.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

from metrics import END_TO_END, HIGHER_IS_BETTER, NAME_RE, PER_LAYER, tail_percentile  # noqa: E402
from workloads import SQL_BATCH, STREAM_TWS, WORKLOADS, seeded_order  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_well_formed():
    names = [*END_TO_END, *PER_LAYER, *WORKLOADS]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name), name


def test_benchmark_json_matches_the_runner():
    bench = _benchmark_json()
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    for m in bench["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in HIGHER_IS_BETTER else "lower"), m
    listed = [w.name for w in WORKLOADS.values() if w.listed]
    assert [w["name"] for w in bench["workloads"]] == listed
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def _brute_tail(samples):
    n, best = len(samples), None
    for p in range(101):
        k = max(1, math.ceil(p * n / 100))  # nearest rank, 1-based
        if n - k >= 10:
            best = (sorted(samples)[k - 1], p, n)
    return best


@pytest.mark.parametrize("n", [1, 10, 11, 12, 13, 20, 99, 100, 101, 1000, 12345])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    rng = random.Random(n)
    samples = [rng.random() for _ in range(n)]
    got = tail_percentile(samples)
    assert got == _brute_tail(samples)
    if n <= 10:
        assert got is None
    else:
        value, pct, count = got
        assert count == n
        assert sum(s > value for s in samples) >= 10


def test_tail_percentile_known_values():
    assert tail_percentile(list(range(100))) == (89, 90, 100)
    assert tail_percentile(list(range(1000))) == (989, 99, 1000)
    assert tail_percentile(list(range(11))) == (0, 9, 11)


def test_seed_only_permutes_order():
    for w in WORKLOADS.values():
        a, b = seeded_order(w.queries, 7), seeded_order(w.queries, 7)
        assert a == b
        assert sorted(a) == sorted(w.queries)
    orders = {tuple(seeded_order(SQL_BATCH, s)) for s in range(20)}
    assert len(orders) > 1


SQL_QUERY = "q17_window_topk"  # a sql_batch query that shuffles even at sf0.001


@pytest.fixture(scope="module")
def traced_log(tmp_path_factory):
    """One sql_batch and one stream_tws query under the traced instruments."""
    import run
    from datagen import ensure_fixtures
    from tracing import LayerTimers, Tracer, event_log_conf, query_windows, read_event_log
    from workloads import run_query

    base = tmp_path_factory.mktemp("perfbench")
    sf_dir = ensure_fixtures(str(base / "sf0.001"), 0.001)
    work = str(base / "work")
    run.prepare_environment(work)
    from remote_shuffle_spark import get_session

    import __spark_entry__ as entry

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_session(run.engine_config(work, event_log_conf(log_dir)))
    tracer = Tracer()
    timers = LayerTimers(tracer)
    qs = entry.queries()
    runs = []
    timers.install()
    try:
        for name in (SQL_QUERY, STREAM_TWS[0]):
            spark.sparkContext.setJobGroup(name, name)
            runs.append(run_query(spark, qs[name], name, sf_dir, collect=False, tracer=tracer))
    finally:
        timers.uninstall()
        spark.stop()
        run.shutdown_jvm()
    return runs, tracer, read_event_log(log_dir), query_windows(tracer.spans)


def test_event_log_parser_attributes_layers(traced_log):
    from tracing import function_stats, summarize

    assert SQL_QUERY in SQL_BATCH
    runs, tracer, events, windows = traced_log
    assert [r.error for r in runs] == [None, None]
    layers = summarize(events, windows)
    sql, stream = layers[SQL_QUERY], layers[STREAM_TWS[0]]
    assert sql.jobs >= 1 and sql.tasks >= 1 and sql.run_ms > 0
    assert sql.input_bytes > 0 and sql.shuffle_write_bytes > 0
    assert sql.batches == [] and sql.py_sent == 0
    assert stream.batches, "stream progress must come from the event log"
    assert stream.build_jobs >= 1
    assert stream.py_sent > 0 and stream.py_received > 0
    assert all("triggerExecution" in b["durationMs"] for b in stream.batches)
    stats = function_stats(tracer.spans)
    assert stats["sources.tables.load_table"]["calls"] >= 1
    assert all(s["end"] >= s["start"] for s in tracer.spans)
