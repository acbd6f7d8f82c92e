"""Shared micro-batch split-file materializer.

Four sites grew near-identical copies of the same idiom (round-7 review):
write each logical batch as ONE parquet file named ``split_k.parquet``
with strictly increasing mtimes, so Spark's file stream source processes
them in the intended order with ``maxFilesPerTrigger=1``.  The copies had
already diverged in robustness (some had ``_SUCCESS`` + atomic-rename
caching, some neither); this helper is the single place the
coalesce→move→utime mechanics live.  Cache keying, atomic renames, and
``_SUCCESS`` markers live in ``scratch.cached_dir``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame

BASE_MTIME = 1_700_000_000


def materialize_split_files(
    frames: Sequence[DataFrame],
    target_dir: str,
    *,
    base_mtime: int = BASE_MTIME,
    mtime_step: int = 10,
) -> None:
    """Write ``frames[k]`` as ``target_dir/split_k.parquet`` (one file
    each, coalesce(1)) with mtime ``base_mtime + k*mtime_step`` — the
    file source's processing order is the list order."""
    os.makedirs(target_dir, exist_ok=True)
    for k, frame in enumerate(frames):
        part_dir = os.path.join(target_dir, f"_p{k}")
        frame.coalesce(1).write.mode("overwrite").parquet(part_dir)
        fname = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        dst = os.path.join(target_dir, f"split_{k}.parquet")
        shutil.move(os.path.join(part_dir, fname), dst)
        shutil.rmtree(part_dir)
        mt = base_mtime + k * mtime_step
        os.utime(dst, (mt, mt))
