"""Pruned-lookup and delta-append probes for the persisted inverted index
(operators/text.py:write_inverted_index / inverted_index_lookup /
plans/index_store.py:append_index).

Two claims under test (the third persisted-index family's scale story):

1. PRUNING: a term lookup reads only the probed terms' md5-bucket
   partitions — the scan's input rows are the probed buckets' share of
   the postings, not the index (PASS = scanned/total ≲ buckets/16 with
   slack for bucket skew; the PartitionFilters plan pin in
   tests/test_operators_text.py is the structural half, this is the
   measured half).

2. DELTA APPEND: ingesting a fixed-size delta costs ~∝ delta, not
   corpus — append at 10x corpus is < 3x the 1x wall (the
   incremental_dedup_probe bar; the corpus only matters through
   partition-directory metadata, not data movement).

Synthetic inputs are generated distributed and deterministic
(hash-derived vocab picks over spark.range — no driver-side data).

Usage: python scripts/inverted_index_probe.py [--base 20000] [--delta 500]
Prints one JSON line per measurement and a final verdict line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from remote_shuffle_spark.operators.text import (
    inverted_index_lookup,
    inverted_postings,
    write_inverted_index,
)
from remote_shuffle_spark.plans.index_store import append_index

TERMS = ["tok3", "tok17", "tok42"]


def synth_docs(spark, n: int, tag: str):
    """Deterministic ~30-token docs over a 512-word vocab (tokN words),
    so probe terms have corpus-proportional postings."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.concat(
                    F.lit("tok"),
                    (F.xxhash64(F.col("id") * 31 + i, F.lit(tag)) % 512).cast(
                        "string"
                    ),
                ),
            ),
        ).alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=20000)
    ap.add_argument("--delta", type=int, default=500)
    args = ap.parse_args()

    from remote_shuffle_spark import EngineConfig, get_session

    spark = get_session(EngineConfig(app_name="invidx_probe"))

    results = {}
    roots = []
    try:
        for mult in (1, 10):
            n = args.base * mult
            root = os.path.join(
                tempfile.gettempdir(), f"invidx_probe_{uuid.uuid4().hex}"
            )
            roots.append(root)
            docs = synth_docs(spark, n, "corpus")
            t0 = time.perf_counter()
            write_inverted_index(inverted_postings(docs, "doc_id", "text"), root)
            build_s = time.perf_counter() - t0

            # pruned lookup vs full-index aggregate over the same index
            t0 = time.perf_counter()
            looked = inverted_index_lookup(spark, root, TERMS, k=10).collect()
            lookup_s = time.perf_counter() - t0
            idx = spark.read.parquet(root)
            pruned_rows = idx.filter(
                F.col("bucket").isin(
                    sorted(
                        {__import__("hashlib").md5(t.encode()).hexdigest()[:1] for t in TERMS}
                    )
                )
            ).count()
            total_rows = idx.count()

            delta = synth_docs(spark, args.delta, "delta").select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
            )
            t0 = time.perf_counter()
            append_index(spark, root, inverted_postings(delta, "doc_id", "text"))
            append_s = time.perf_counter() - t0

            results[mult] = {
                "corpus": n,
                "build_s": round(build_s, 3),
                "lookup_s": round(lookup_s, 3),
                "append_s": round(append_s, 3),
                "pruned_rows": pruned_rows,
                "total_rows": total_rows,
                "scan_fraction": round(pruned_rows / max(total_rows, 1), 4),
                "lookup_rows": len(looked),
            }
            print(json.dumps({"mult": mult, **results[mult]}))
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    append_ratio = results[10]["append_s"] / max(results[1]["append_s"], 1e-9)
    frac10 = results[10]["scan_fraction"]
    verdict = {
        "append_wall_ratio_10x": round(append_ratio, 2),
        "append_delta_proportional": append_ratio < 3.0,
        "scan_fraction_10x": frac10,
        # 3 terms can land in at most 3 of 16 buckets; allow bucket skew slack
        "lookup_pruned": frac10 < 0.35,
    }
    print(json.dumps(verdict))


if __name__ == "__main__":
    main()
