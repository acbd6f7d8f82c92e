"""Deterministic synthetic fixtures for the benchmark.

Writes the ten tables the declared queries read (``region`` … ``embeddings``,
see ``remote_shuffle_spark.sources.tables.TABLES``) as one parquet file each,
with the schemas, key ranges, value domains and row counts of the repo's
fixture family (FIXTURES.md):

- TPC-H-ish star schema: ``customer``/``orders``/``lineitem`` scale with sf,
  foreign keys always resolve, money columns carry 2 decimals;
- ``events``: a time-ordered click stream over January 2024;
- ``documents``: bag-of-words texts with 5% near-duplicates (a copy of an
  earlier text plus a trailing ``dup`` token) and a few exact duplicates;
- ``embeddings``: 64-d float unit vectors with a 10-class label.

The same ``seed`` always writes the same values, so a benchmark run never
depends on files outside its own checkout.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated values change, so cached fixtures are rebuilt
GENERATOR_VERSION = 1

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_THINGS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]


def row_counts(sf: float) -> dict[str, int]:
    n = lambda base, floor=1: max(floor, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _day_timestamps(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    days = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rc = row_counts(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    n = rc["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )

    n = rc["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        }
    )

    n = rc["part"]
    keys = np.arange(n, dtype=np.int64)
    p_names = [f"{c} {w}" for c in _COLORS for w in _THINGS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, p_names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PTYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
        }
    )

    n = rc["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, rc["customer"], n, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500_000.0)),
            "o_orderdate": pa.array(
                _day_timestamps(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
            ),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )

    n = rc["lineitem"]
    disc = rng.integers(0, 20, n)  # 0.00..0.10, both ends at half weight
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, rc["orders"], n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, rc["part"], n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, rc["supplier"], n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0)),
            "l_discount": pa.array(np.round((disc + 1) // 2 / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(
                _day_timestamps(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))
            ),
        }
    )

    n = rc["events"]
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, n, replace=False))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(1, n * 15 // 1000), n, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )

    n = rc["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    for i in range(n // 20, n):  # 5% near-dups of an earlier text
        if rng.random() < 0.05:
            texts[i] = texts[rng.integers(0, n // 20)] + " dup"
    for _ in range(max(1, n // 625)):  # a few exact duplicates
        i, j = rng.integers(0, n, 2)
        texts[j] = texts[i]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )

    n = rc["embeddings"]
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )
    return t


def ensure_fixtures(out_dir: str, sf: float, seed: int = 42) -> str:
    """Write the fixtures into ``out_dir`` unless a complete set with the
    same (sf, seed, generator version) is already there; return ``out_dir``."""
    stamp = {"sf": sf, "seed": seed, "version": GENERATOR_VERSION}
    stamp_path = os.path.join(out_dir, "_fixtures.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if json.load(fh) == stamp:
                return out_dir
    tmp = out_dir.rstrip("/") + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    with open(os.path.join(tmp, "_fixtures.json"), "w") as fh:
        json.dump(stamp, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir

