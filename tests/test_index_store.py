"""The persisted-index store (plans/index_store.py): every index family
is committed under a manifest that records its layout, and every read,
append and compaction verifies the directory against it first."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from remote_shuffle_spark import scratch
from remote_shuffle_spark.operators import dedup, similarity, text
from remote_shuffle_spark.plans.index_store import (
    append_index,
    compact_index,
    read_index,
    write_index,
)
from remote_shuffle_spark.plans.shuffle_policy import CheckpointIntegrityError
from remote_shuffle_spark.sources.tables import load_table

_DOCS = [
    (1, "alpha beta gamma alpha"),
    (2, "beta delta"),
    (3, "alpha epsilon zeta"),
    (4, "eta theta iota"),
]


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def _n_postings(spark):
    return text.inverted_postings(_docs(spark), "doc_id", "text").count()


def _band_index(spark, path):
    rows = [(d, " ".join(f"c{d}w{i}" for i in range(40))) for d in range(8)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    dedup.write_minhash_band_index(dedup.minhash_band_index(corpus, "doc_id", "text"), path, num_files=4)
    return path


def _inverted_index(spark, path):
    text.write_inverted_index(text.inverted_postings(_docs(spark), "doc_id", "text"), path)
    return path


def _ivf_codes(spark, sf_smoke, path):
    emb = load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < 64)
    similarity.ivf_pq_write_index(emb, "vec_id", "embedding", path)
    return os.path.join(path, "codes")


def _parts(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _snapshot(root):
    """Every file under ``root`` (data and manifest) → (size, mtime_ns)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), root)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.parametrize("family", ["band", "inverted", "ivf_codes"])
def test_read_index_raises_on_a_lost_part_file(spark, sf_smoke, tmp_path, family):
    path = str(tmp_path / family)
    root = {
        "band": lambda: _band_index(spark, path),
        "inverted": lambda: _inverted_index(spark, path),
        "ivf_codes": lambda: _ivf_codes(spark, sf_smoke, path),
    }[family]()
    n = read_index(spark, root).count()
    parts = _parts(root)
    assert n > 0 and len(parts) >= 2
    os.remove(parts[-1])
    with pytest.raises(CheckpointIntegrityError, match="missing"):
        read_index(spark, root)


def test_family_reads_refuse_a_shrunk_index(spark, sf_smoke, tmp_path):
    inv = _inverted_index(spark, str(tmp_path / "inv"))
    os.remove(_parts(inv)[0])
    with pytest.raises(CheckpointIntegrityError):
        text.inverted_index_lookup(spark, inv, ["alpha"], k=3)
    ivf = str(tmp_path / "ivf")
    os.remove(_parts(_ivf_codes(spark, sf_smoke, ivf))[0])
    probes = load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < 2)
    with pytest.raises(CheckpointIntegrityError):
        similarity.ivf_pq_indexed_topk(spark, ivf, probes, "vec_id", "embedding", k=3)


def test_read_index_raises_on_unlisted_file_and_absent_manifest(spark, tmp_path):
    path = _inverted_index(spark, str(tmp_path / "inv"))
    stray = os.path.join(os.path.dirname(_parts(path)[0]), "part-stray.parquet")
    spark.range(1).write.parquet(str(tmp_path / "stray"))
    os.rename(_parts(str(tmp_path / "stray"))[0], stray)
    with pytest.raises(CheckpointIntegrityError, match="unlisted"):
        read_index(spark, path)
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    with pytest.raises(CheckpointIntegrityError, match="no commit manifest"):
        read_index(spark, plain)


@pytest.mark.parametrize("op", ["append", "compact"])
def test_mutations_verify_first_and_leave_files_untouched(spark, tmp_path, op):
    path = _inverted_index(spark, str(tmp_path / "inv"))
    os.remove(_parts(path)[0])
    before = _snapshot(path)
    with pytest.raises(CheckpointIntegrityError, match="missing"):
        if op == "append":
            append_index(spark, path, text.inverted_postings(_docs(spark), "doc_id", "text"))
        else:
            compact_index(spark, path)
    assert _snapshot(path) == before


def test_append_follows_the_recorded_layout(spark, tmp_path):
    """An appended generation is sorted by (tok, doc_id) within every
    bucket file, like the build — the layout comes from the manifest."""
    path = _inverted_index(spark, str(tmp_path / "inv"))
    before = set(_parts(path))
    for p in before:
        keys = [(r["tok"], r["doc_id"]) for r in pq.read_table(p, columns=["tok", "doc_id"]).to_pylist()]
        assert keys == sorted(keys), p
    rows = [(f"t{i % 7}", 100 - i, 1) for i in range(60)]
    delta = (
        spark.createDataFrame(rows, "tok string, doc_id long, tf long")
        .coalesce(1)
        .withColumn("bucket", F.substring(F.md5("tok"), 1, 1))
    )
    append_index(spark, path, delta)
    appended = [p for p in _parts(path) if p not in before]
    assert appended
    for p in appended:
        keys = [(r["tok"], r["doc_id"]) for r in pq.read_table(p, columns=["tok", "doc_id"]).to_pylist()]
        assert keys == sorted(keys), p
    assert read_index(spark, path).count() == _n_postings(spark) + 60


def test_compact_index_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    key = "spark.sql.sources.partitionOverwriteMode"
    path = _inverted_index(spark, str(tmp_path / "inv"))
    append_index(spark, path, text.inverted_postings(_docs(spark), "doc_id", "text"))
    writes = []
    for name in ("set", "unset"):
        real = getattr(RuntimeConfig, name)

        def spy(self, k, *a, _real=real):
            writes.append(k)
            return _real(self, k, *a)

        monkeypatch.setattr(RuntimeConfig, name, spy)
    was = spark.conf.get(key)
    compact_index(spark, path)
    assert spark.conf.get(key) == was
    assert key not in writes


def test_manifest_paths_survive_a_rename(spark, tmp_path):
    """A cache build is renamed into place after it is written, so the
    manifest must not record absolute paths."""
    built = _inverted_index(spark, str(tmp_path / "built"))
    moved = str(tmp_path / "moved")
    os.rename(built, moved)
    assert read_index(spark, moved).count() == _n_postings(spark)


def test_plain_index_has_no_layout(spark, tmp_path):
    path = str(tmp_path / "plain")
    write_index(spark.range(5), path, layout=None)
    append_index(spark, path, spark.range(5, 8))
    assert sorted(r.id for r in read_index(spark, path).collect()) == list(range(8))


def test_cached_dir_rebuilds_when_the_source_fingerprint_changes(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    calls = []

    def build(d):
        calls.append(d)
        open(os.path.join(d, "data"), "w").close()

    monkeypatch.setattr(scratch, "source_fingerprint", lambda: "a")
    first = scratch.cached_dir("t", ("k",), build)
    assert scratch.cached_dir("t", ("k",), build) == first and len(calls) == 1
    monkeypatch.setattr(scratch, "source_fingerprint", lambda: "b")
    assert scratch.cached_dir("t", ("k",), build) != first and len(calls) == 2
