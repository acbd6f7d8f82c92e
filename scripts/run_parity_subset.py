"""Run the oracle-parity harness for a named subset of declared queries.

Usage: python scripts/run_parity_subset.py sf_dir name1,name2,...
Prints one line per query: PASS/FAIL name detail.  Exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))


def main() -> None:
    sf_dir, names = sys.argv[1], sys.argv[2].split(",")
    from parity import run_parity

    from remote_shuffle_spark import EngineConfig, get_session

    spark = get_session(EngineConfig(app_name="parity_subset", driver_memory="8g"))
    results = run_parity(spark, sf_dir, names)
    bad = 0
    for r in results:
        print(("PASS" if r.ok else "FAIL"), r.name, r.detail, flush=True)
        bad += 0 if r.ok else 1
    missing = set(names) - {r.name for r in results}
    if missing:
        print("MISSING", sorted(missing), flush=True)
        bad += len(missing)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
