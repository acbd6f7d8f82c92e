"""Similarity-search semantics vs a NumPy oracle."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from remote_shuffle_spark.operators import similarity
from remote_shuffle_spark.plans.index_store import compact_index
from remote_shuffle_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings")


@pytest.fixture(scope="module")
def np_oracle(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def _np_topk(ids, mat, qid, k):
    q = mat[ids == qid][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -np.round(sims, 6)))
    return list(ids[order][:k])


def test_brute_force_matches_numpy(spark, emb, np_oracle):
    ids, mat = np_oracle
    q = emb.filter(F.col("vec_id") == 0)
    got = [r.vec_id for r in similarity.brute_force_topk(emb, "vec_id", "embedding", q, k=10).collect()]
    assert got == _np_topk(ids, mat, 0, 10)


def test_brute_force_self_is_rank_one(spark, emb):
    q = emb.filter(F.col("vec_id") == 3)
    top = similarity.brute_force_topk(emb, "vec_id", "embedding", q, k=1).collect()
    assert top[0].vec_id == 3
    assert top[0].cos_sim == pytest.approx(1.0, abs=1e-6)


def test_ivf_full_probe_equals_brute_force(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    exact = [r.vec_id for r in similarity.brute_force_topk(emb, "vec_id", "embedding", q, k=10).collect()]
    full = [
        r.vec_id
        for r in similarity.ivf_topk(
            emb, "vec_id", "embedding", q, k=10, num_cells=8, nprobe=8
        ).collect()
    ]
    assert full == exact


def test_ivf_partial_probe_recall(spark, emb):
    q = emb.filter(F.col("vec_id") == 0)
    exact = set(
        r.vec_id for r in similarity.brute_force_topk(emb, "vec_id", "embedding", q, k=10).collect()
    )
    approx = set(
        r.vec_id
        for r in similarity.ivf_topk(
            emb, "vec_id", "embedding", q, k=10, num_cells=8, nprobe=3
        ).collect()
    )
    # query's own cell is always probed → its vector must be found
    assert 0 in approx
    assert len(exact & approx) / 10 >= 0.2


def test_ivf_assign_pandas_matches_expr(spark, emb):
    """The Arrow/pandas assignment path must agree with the literal-expression
    path cell-for-cell (same tie-break: larger cid on equal similarity)."""
    cents = similarity.seed_centroids(emb, "vec_id", "embedding", k=8)
    cent_rows = [(int(r["cid"]), list(r["cvec"])) for r in cents.collect()]
    expr = {
        r.vec_id: r.cell
        for r in similarity.assign_ivf_cells(
            emb, "vec_id", "embedding", cents, method="expr", _collected_centroids=cent_rows
        ).select("vec_id", "cell").collect()
    }
    pand = {
        r.vec_id: r.cell
        for r in similarity.assign_ivf_cells(
            emb, "vec_id", "embedding", cents, method="pandas", _collected_centroids=cent_rows
        ).select("vec_id", "cell").collect()
    }
    assert expr == pand


def test_ivf_assign_scales_to_k1024(spark, emb, np_oracle):
    """K ≈ √corpus-rows at 100 TB means thousands of centroids; the literal
    expression tree can't compile there (VERDICT r2 #1).  The pandas path
    must (a) stay narrow — broadcast matrix, no shuffle exchange — and
    (b) match a driver-side numpy oracle exactly."""
    from remote_shuffle_spark.plans import explain

    ids, mat = np_oracle
    dim = mat.shape[1]
    rng = np.random.RandomState(42)
    K = 1024
    cvecs = rng.standard_normal((K, dim))
    cent_rows = [(cid, [float(x) for x in cvecs[cid]]) for cid in range(K)]

    assigned = similarity.assign_ivf_cells(
        emb, "vec_id", "embedding", None, method="auto", _collected_centroids=cent_rows
    ).select("vec_id", "cell")
    explain.assert_no_shuffle_exchange(assigned)
    plan = explain.physical_plan(assigned)
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan  # pandas path chosen at K=1024

    got = {r.vec_id: r.cell for r in assigned.collect()}

    # numpy oracle with the same tie-break (largest cid wins exact ties)
    cn = np.linalg.norm(cvecs, axis=1)
    cvn = cvecs / np.where(cn > 0, cn, 1.0)[:, None]
    vn = np.linalg.norm(mat, axis=1)
    vmn = mat / np.where(vn > 0, vn, 1.0)[:, None]
    sims = vmn @ cvn.T  # rows × K
    rev = sims[:, ::-1]  # cid descending → first max = largest cid
    expected_cells = (K - 1) - np.argmax(rev, axis=1)
    expected = {int(i): int(c) for i, c in zip(ids, expected_cells)}
    assert got == expected


def test_ivf_assign_zero_vector_gets_max_cid_cell(spark):
    """Zero-norm vectors have cosine 0 to every centroid; both paths must
    deterministically land them in the largest-cid cell."""
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cent_rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])]
    for method in ("expr", "pandas"):
        cells = {
            r.vec_id: r.cell
            for r in similarity.assign_ivf_cells(
                df, "vec_id", "embedding", None, method=method, _collected_centroids=cent_rows
            ).collect()
        }
        assert cells[1] == 2, method  # zero vector → max cid
        assert cells[2] == 0, method


def test_l2_normalize_and_quantize_roundtrip(spark):
    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.vectors import (
        dequantize,
        l2_norm,
        l2_normalize,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.5, 2.5])],
        "id long, v array<double>",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id",
            l2_normalize(F.col("v")).alias("unit"),
            l2_norm(l2_normalize(F.col("v"))).alias("unit_norm"),
            dequantize(quantize_int8(F.col("v"))).alias("rt"),
            quantize_int8(F.col("v")).alias("q"),
        ).collect()
    }
    assert rows[1].unit == [0.6, 0.8]
    assert abs(rows[1].unit_norm - 1.0) < 1e-12
    assert rows[2].unit == [0.0, 0.0]  # zero vector untouched
    # quantization roundtrip error bounded by scale/2 per element
    for rid in (1, 3):
        scale = rows[rid].q.scale
        orig = {1: [3.0, 4.0], 3: [-1.5, 2.5]}[rid]
        assert all(abs(a - b) <= scale / 2 + 1e-12 for a, b in zip(rows[rid].rt, orig))
    assert rows[2].q.scale == 0.0 and rows[2].rt == [0.0, 0.0]
    # int8 code range respected
    assert all(-127 <= c <= 127 for c in rows[1].q.q)


def test_lsh_topk_partial_probe_recall_and_pruning(spark):
    """lsh_topk at a small Hamming radius must (a) actually PRUNE (scan
    fewer candidates than the corpus), (b) recall a planted near-parallel
    neighbor (tiny angle → same bucket with overwhelming probability),
    and (c) at full radius return exactly the brute-force top-k."""
    import math

    from remote_shuffle_spark.operators.similarity import brute_force_topk, lsh_topk

    dim = 8
    base = [1.0, 0.5, -0.25, 2.0, 0.0, -1.0, 0.75, 0.125]
    twin = [x * 1.001 + (0.0001 if i == 0 else 0.0) for i, x in enumerate(base)]
    rows = [(0, base), (1, twin)] + [
        (i, [math.sin(i * 37.0 + j * 11.0) for j in range(dim)]) for i in range(2, 202)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)

    near = lsh_topk(df, "vec_id", "embedding", q, k=3, dim=dim,
                    num_planes=6, hamming_radius=0)
    got = {r.vec_id for r in near.collect()}
    assert 1 in got  # planted near-parallel twin recalled at radius 0

    exact = brute_force_topk(df, "vec_id", "embedding", q, k=10)
    full = lsh_topk(df, "vec_id", "embedding", q, k=10, dim=dim,
                    num_planes=6, hamming_radius=6)
    assert [tuple(r) for r in full.collect()] == [tuple(r) for r in exact.collect()]

    # pruning: radius-0 probes 1 of 2^6 buckets — candidate count must be
    # well under the corpus (the equi-join filters before any cosine)
    probed = lsh_topk(df, "vec_id", "embedding", q, k=202, dim=dim,
                      num_planes=6, hamming_radius=0).count()
    assert probed < 202 / 2


def test_knn_join_matches_per_query_brute_force(spark, sf_smoke):
    """Batch knn_join must equal k independent brute_force_topk probes —
    same ids, same ranks, same rounded scores — and the two-phase top-k
    must not lose a global winner to subgroup pruning (each subgroup
    keeps k, so the union always contains the global top-k)."""
    from remote_shuffle_spark.operators.similarity import (
        brute_force_topk,
        knn_join,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 5, 9))
    batch = knn_join(emb, "vec_id", "embedding", queries, "vec_id", k=7).collect()
    by_query = {}
    for r in batch:
        by_query.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cos_sim))
    assert set(by_query) == {0, 5, 9}
    for qid, rows in by_query.items():
        one = brute_force_topk(
            emb, "vec_id", "embedding", emb.filter(F.col("vec_id") == qid), k=7
        ).collect()
        want = [(i + 1, r.vec_id, r.cos_sim) for i, r in enumerate(one)]
        assert sorted(rows) == want, qid


def test_knn_join_zero_norm_queries_score_zero(spark):
    from remote_shuffle_spark.operators.similarity import knn_join

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = knn_join(
        df, "vec_id", "embedding", df.filter("vec_id = 3"), "vec_id", k=2
    ).collect()
    assert all(r.cos_sim == 0.0 for r in out)
    assert [r.vec_id for r in out] == [1, 2]  # id tie-break at equal score


def test_knn_join_lsh_recall_and_exactness(spark, sf_smoke):
    """knn_join_lsh: full radius must EQUAL the exact knn_join
    (neighbor-for-neighbor); smaller radii trade recall for pruning,
    pinned loosely (random embeddings have weak locality — these bounds
    catch a broken probe set, not a tuned index), and recall must be
    monotone in the radius."""
    from remote_shuffle_spark.operators.similarity import knn_join, knn_join_lsh

    emb = load_table(spark, sf_smoke, "embeddings")
    qs = emb.filter(F.col("vec_id") < 6)
    exact = {
        (r.query_id, r.rank, r.vec_id)
        for r in knn_join(emb, "vec_id", "embedding", qs, "vec_id", k=8).collect()
    }
    full = {
        (r.query_id, r.rank, r.vec_id)
        for r in knn_join_lsh(
            emb, "vec_id", "embedding", qs, "vec_id",
            k=8, dim=64, num_planes=8, hamming_radius=8,
        ).collect()
    }
    assert full == exact  # full radius == exact, rank-for-rank
    exact_pairs = {(q, v) for q, _, v in exact}
    recalls = []
    for radius in (1, 2, 3):
        got = {
            (r.query_id, r.vec_id)
            for r in knn_join_lsh(
                emb, "vec_id", "embedding", qs, "vec_id",
                k=8, dim=64, num_planes=8, hamming_radius=radius,
            ).collect()
        }
        recalls.append(len(got & exact_pairs) / len(exact_pairs))
    assert recalls == sorted(recalls)  # monotone in radius
    assert recalls[1] >= 0.15 and recalls[2] >= 0.3, recalls


def test_quantized_recall_perfect_when_scales_agree(spark):
    """Well-separated vectors: coarse and fine rankings agree -> recall 1."""
    from remote_shuffle_spark.operators.similarity import quantization_recall_at_k

    rows = [(i, [1.0 * (i == j) for j in range(4)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter("vec_id < 2")
    got = quantization_recall_at_k(
        df, "vec_id", "embedding", probes, "vec_id", k=3
    ).collect()
    assert [r.probe_id for r in got] == [0, 1]
    assert all(r.hits == 3 and r.recall_at_k == 1.0 for r in got)


def test_quantized_recall_detects_coarse_rank_flip(spark):
    """Two corpus vectors that the fine scale separates but the coarse
    scale collapses (0.004 vs 0.002 -> both floor to 0 at x127): the
    coarse ranking falls back to the id tie-break, picking the WRONG
    vector, so recall@1 for the probe must be 0."""
    from remote_shuffle_spark.operators.similarity import quantization_recall_at_k

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),       # probe
            (1, [0.002, 0.0]),     # coarse: floor-ties with 2, wins by id
            (2, [0.004, 0.0]),     # fine winner
        ],
        "vec_id long, embedding array<float>",
    )
    probes = df.filter("vec_id = 0")
    (row,) = quantization_recall_at_k(
        df, "vec_id", "embedding", probes, "vec_id", k=1
    ).collect()
    assert (row.probe_id, row.hits, row.recall_at_k) == (0, 0, 0.0)


def test_pq_recall_perfect_on_reconstructible_corpus(spark):
    """When every corpus vector is an exact concatenation of codebook
    subvectors, PQ encoding reconstructs losslessly, ADC distance equals
    the exact distance for every (probe, vector) pair, and recall@k must
    be exactly 1.0 — the identity that validates the encode/LUT/ADC
    machinery end to end."""
    from remote_shuffle_spark.operators.similarity import pq_recall_at_k

    # codebook ids 0..3: dim 8, two subspaces of width 4
    cb = {
        0: [0.1, 0.2, 0.3, 0.4, 0.9, 0.8, 0.7, 0.6],
        1: [0.5, 0.4, 0.3, 0.2, 0.1, 0.3, 0.5, 0.7],
        2: [0.9, 0.1, 0.8, 0.2, 0.4, 0.4, 0.2, 0.9],
        3: [0.2, 0.7, 0.6, 0.1, 0.6, 0.2, 0.8, 0.3],
    }
    rows = [(i, v) for i, v in cb.items()]
    # corpus ids 10..17: every (first-half, second-half) codebook combo
    rid = 10
    for a in range(4):
        for b in range(2):
            rows.append((rid, cb[a][:4] + cb[b][4:]))
            rid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.filter("vec_id < 2")
    out = pq_recall_at_k(
        df, "vec_id", "embedding", probes, "vec_id",
        k=3, num_subspaces=2, num_centroids=4,
    )
    got = {r.probe_id: r.recall_at_k for r in out.collect()}
    assert got == {0: 1.0, 1: 1.0}


def test_pq_codes_are_nearest_centroids(spark):
    """A vector equal to codebook vector j must encode to code j in every
    subspace (distance 0 beats every other centroid)."""
    from remote_shuffle_spark.operators.similarity import pq_recall_at_k

    # reuse the operator end-to-end: probe == corpus vector 3 (a codebook
    # row); its exact nearest non-self neighbors and ADC nearest must
    # coincide because all corpus rows reconstruct exactly
    cb = {
        0: [0.1, 0.2, 0.3, 0.4, 0.9, 0.8, 0.7, 0.6],
        1: [0.5, 0.4, 0.3, 0.2, 0.1, 0.3, 0.5, 0.7],
        2: [0.9, 0.1, 0.8, 0.2, 0.4, 0.4, 0.2, 0.9],
        3: [0.2, 0.7, 0.6, 0.1, 0.6, 0.2, 0.8, 0.3],
    }
    rows = [(i, v) for i, v in cb.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_recall_at_k(
        df, "vec_id", "embedding", df.filter("vec_id = 3"), "vec_id",
        k=2, num_subspaces=2, num_centroids=4,
    )
    (row,) = out.collect()
    assert (row.probe_id, row.recall_at_k) == (3, 1.0)


def test_ivf_pq_with_nprobe_all_degrades_to_plain_pq(spark, sf_smoke):
    """IVFADC's pruning-loss pin: with nprobe == num_cells every cell is
    probed, the candidate set is the whole corpus (minus self), and the
    recall numbers must equal plain PQ's exactly — isolating the two
    losses (cell pruning vs code compression) the composed operator
    prices together."""
    from remote_shuffle_spark.operators.similarity import (
        ivf_pq_recall_at_k,
        pq_recall_at_k,
    )
    from remote_shuffle_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    full = {
        r.probe_id: (r.scanned, r.hits)
        for r in ivf_pq_recall_at_k(
            emb, "vec_id", "embedding", probes, "vec_id",
            k=10, num_cells=8, nprobe=8,
        ).collect()
    }
    plain = {
        r.probe_id: r.hits
        for r in pq_recall_at_k(
            emb, "vec_id", "embedding", probes, "vec_id", k=10
        ).collect()
    }
    n = emb.count()
    assert set(full) == set(plain)
    for pid, (scanned, hits) in full.items():
        assert scanned == n - 1, (pid, scanned, n)  # whole corpus minus self
        assert hits == plain[pid], (pid, hits, plain[pid])


def test_ivf_pq_scan_fraction_tracks_nprobe(spark, sf_smoke):
    """The pruning contract: total scanned across probes grows ~linearly
    with nprobe (cells are near-balanced only by data luck, so pin the
    ordering and the exact-coverage endpoints, not equality)."""
    from remote_shuffle_spark.operators.similarity import ivf_pq_recall_at_k
    from remote_shuffle_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    totals = {}
    for nprobe in (1, 4, 8):
        rows = ivf_pq_recall_at_k(
            emb, "vec_id", "embedding", probes, "vec_id",
            k=10, num_cells=8, nprobe=nprobe,
        ).collect()
        totals[nprobe] = sum(r.scanned for r in rows)
    assert totals[1] < totals[4] < totals[8]
    n = emb.count()
    assert totals[8] == 8 * (n - 1)


def test_mmr_select_prefers_diverse_over_redundant(spark):
    """The MMR property the operator exists for: with q=[1,.2], candidate
    a=[1,0] (most relevant), b=[.99,0] (nearly a duplicate of a), and
    c=[.5,.9] (less relevant, diverse), rank 1 must be a and rank 2 must
    be c — plain relevance ranking would pick b.  (The score algebra:
    rel(x) - sim(x,a) = dot(x, q - a), which is 0 for any x parallel to
    a and strictly positive for c's orthogonal component — q must NOT
    equal a or every second-pick score ties at 0.)  Integer arithmetic
    at scale=127 mirrors the query's quantization."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.similarity import mmr_select

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.0]),
        (3, [0.5, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.2])], "vec_id long, embedding array<double>")
    got = [(r.rank, r.vec_id) for r in mmr_select(
        df, "vec_id", "embedding", q, k=2, pool=3
    ).orderBy("rank").collect()]
    assert got == [(1, 1), (2, 3)], got


def test_ivf_pq_indexed_prunes_partitions_and_matches_inquery(spark, sf_smoke, tmp_path):
    """The persisted-index face must (a) PLAN the probe as partition
    pruning — the scan node carries a PartitionFilters entry on the
    cell column (a static IN over the probed cells), which is what
    makes the nprobe/num_cells fraction a directory-listing property —
    (b) actually have something to prune on disk (more cell partitions
    than probed), and (c) return top-k rows consistent with the
    in-query IVFADC math (same candidates, same integer ADC ranking)."""
    import os
    import re

    emb = load_table(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "ivfidx")
    similarity.ivf_pq_write_index(emb, "vec_id", "embedding", path)

    probes = emb.filter(F.col("vec_id") < 4)
    res = similarity.ivf_pq_indexed_topk(
        spark, path, probes, "vec_id", "embedding", k=5, nprobe=2
    )
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # search ALL PartitionFilters entries and pin the one on the cell
    # column: the model-table scans also print 'PartitionFilters: []'
    # and plan print order is not contractual
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters, "codes scan lost its PartitionFilters — pruning regressed"
    cell_filters = [f for f in filters if "cell" in f]
    assert cell_filters and any("IN" in f.upper() for f in cell_filters), filters
    m = re.search(
        r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan
    )

    # on-disk audit: probed cells are a strict subset of the partitions
    cell_dirs = {
        d for d in os.listdir(os.path.join(path, "codes")) if d.startswith("cell=")
    }
    probed = {int(v) for v in re.findall(r"(\d+)", m.group(1))}
    probed_dirs = {f"cell={c}" for c in probed} & cell_dirs
    assert probed_dirs and len(probed_dirs) < len(cell_dirs), (
        probed_dirs,
        cell_dirs,
    )

    rows = res.collect()
    # every probe returns k ranked rows; scanned equals the probed-cell
    # population minus self (the row-level pruning audit), so scanned is
    # well under the corpus size
    n_corpus = emb.count()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.probe_id, []).append(r)
    assert set(by_probe) == {0, 1, 2, 3}
    for pid, rs in by_probe.items():
        assert [r.rank for r in sorted(rs, key=lambda x: x.rank)] == [1, 2, 3, 4, 5]
        assert all(r.scanned < n_corpus for r in rs)
        dists = [r.adc_dist for r in sorted(rs, key=lambda x: x.rank)]
        assert dists == sorted(dists)


def test_ivf_pq_codes_cover_every_vector_element(spark, tmp_path):
    """PQ sub-vectors span the WHOLE vector: with 128 elements and 8
    subspaces each code covers 16 of them.  The first 64 elements are all
    0 (every codebook entry ties there, so the code is the smallest id,
    0) and the last 64 are distinct per row (each row is its own nearest
    codebook entry), so row i encodes to [0]*4 + [i]*4.  A width taken
    from a fixed 64-wide default reads only the zero half and encodes
    every row to all zeros."""
    import random

    rnd = random.Random(7)
    rows = [(i, [0.0] * 64 + [rnd.random() for _ in range(64)]) for i in range(16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "wide")
    similarity.ivf_pq_write_index(df, "vec_id", "embedding", path)
    got = {r.id: list(r.codes) for r in spark.read.parquet(f"{path}/codes").collect()}
    assert got == {i: [0] * 4 + [i] * 4 for i in range(16)}


def test_ivf_pq_upsert_equals_full_build_under_frozen_model(spark, sf_smoke, tmp_path):
    """Frozen-model invariant: when the model vectors (smallest ids) all
    live in the corpus split, build(corpus) + upsert(delta) must serve
    EXACTLY what build(corpus ∪ delta) serves — the incremental path
    changes the layout's history, never its content."""
    emb = load_table(spark, sf_smoke, "embeddings").filter(F.col("vec_id") < 40)
    corpus = emb.filter(F.col("vec_id") < 30)  # contains model ids 0..15
    delta = emb.filter(F.col("vec_id") >= 30)
    probes = emb.filter(F.col("vec_id") < 3)

    inc_path = str(tmp_path / "inc")
    similarity.ivf_pq_write_index(corpus, "vec_id", "embedding", inc_path)
    similarity.ivf_pq_upsert(spark, inc_path, delta, "vec_id", "embedding")

    full_path = str(tmp_path / "full")
    similarity.ivf_pq_write_index(emb, "vec_id", "embedding", full_path)

    def run(path):
        return [
            tuple(r)
            for r in similarity.ivf_pq_indexed_topk(
                spark, path, probes, "vec_id", "embedding", k=5, nprobe=2
            ).collect()
        ]

    assert run(inc_path) == run(full_path)


def test_ivf_pq_compact_dynamic_overwrite_preserves_untouched_cells(spark, sf_smoke, tmp_path):
    """Compaction contract: (a) upserts accumulate file generations in
    touched cells; (b) compacting a SUBSET of cells rewrites only those
    partition dirs — untouched cells keep their exact files (dynamic
    partition overwrite, not whole-table); (c) probe content is
    byte-identical before and after (pure layout rewrite)."""
    import glob
    import os

    emb = load_table(spark, sf_smoke, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 2)
    delta1 = emb.filter(F.col("vec_id") % 10 == 2)
    delta2 = emb.filter(F.col("vec_id") % 10 == 7)
    path = str(tmp_path / "ivfc")
    similarity.ivf_pq_write_index(corpus, "vec_id", "embedding", path)
    similarity.ivf_pq_upsert(spark, path, delta1, "vec_id", "embedding")
    similarity.ivf_pq_upsert(spark, path, delta2, "vec_id", "embedding")

    def files_by_cell():
        out = {}
        for d in glob.glob(os.path.join(path, "codes", "cell=*")):
            cell = int(d.split("cell=")[1])
            out[cell] = sorted(
                os.path.basename(f) for f in glob.glob(os.path.join(d, "*.parquet"))
            )
        return out

    before = files_by_cell()
    multi = [c for c, fs in before.items() if len(fs) >= 2]
    assert multi, "upserts should leave multiple file generations somewhere"

    probes = emb.filter(F.col("vec_id") < 3)

    def topk():
        return [
            tuple(r)
            for r in similarity.ivf_pq_indexed_topk(
                spark, path, probes, "vec_id", "embedding", k=5, nprobe=2
            ).collect()
        ]

    content_before = topk()
    target = multi[0]
    compact_index(spark, os.path.join(path, "codes"), parts=[target])
    after = files_by_cell()
    assert len(after[target]) == 1
    for c, fs in before.items():
        if c != target:
            assert after[c] == fs, f"cell {c} was touched by a subset compact"
    assert topk() == content_before
