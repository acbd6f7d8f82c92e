"""bench.py artifact naming — pure path logic, no Spark session."""

from __future__ import annotations

from bench import artifact_names


def test_full_run_writes_legacy_and_per_core_count_maps():
    assert artifact_names(None, None, "32") == ["BENCH_full.json", "BENCH_full_c32.json"]
    assert artifact_names(None, None, "8") == ["BENCH_full.json", "BENCH_full_c8.json"]


def test_family_and_subset_runs_keep_their_own_file():
    assert artifact_names("tws", None, "8") == ["BENCH_family_tws.json"]
    assert artifact_names(None, "q01_scan_filter_agg,q02_repartition", "8") == [
        "BENCH_subset.json"
    ]
