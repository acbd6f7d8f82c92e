"""Similarity search over embedding columns (EXT — SURVEY §2.3).

Two paths, same contract (return the top-k neighbors of a query vector):

- :func:`brute_force_topk` — exact cosine against every row; one narrow
  pass + TakeOrdered.  The correctness baseline, and still the right
  choice when the query set is small and the scan is already happening.
- :func:`ivf_topk` — inverted-file approximate search: vectors are
  assigned to their nearest of K centroids once (narrow after a broadcast
  of K centroids), the query probes only ``nprobe`` nearest cells.  At
  100 TB the assignment is written as a bucketed/partitioned table so a
  query touches K/nprobe-th of the data.
- :func:`lsh_topk` — random-hyperplane LSH buckets, no training step:
  sign-bit signatures are pure expressions, the query probes buckets
  within a Hamming radius of its own.  The right scale path when a
  k-means build pass is not worth it (write-once corpora, ad-hoc probes).

All vector math is JVM-side higher-order expressions (functions.vectors).
Every per-key top-k goes through :func:`topk_per_key`; the integer
PQ/IVFADC operators share one model, one encode, one LUT/ADC scorer and
one recall harness (the private stages below).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from remote_shuffle_spark.functions.vectors import (
    cosine_similarity,
    int_dot,
    int_sq_l2,
    nearest_int_l2,
    quantize_floor,
    to_double_array,
)
from remote_shuffle_spark.operators.dedup import _lsh_bucket
from remote_shuffle_spark.plans.index_store import (
    append_index,
    by_partition,
    read_index,
    write_index,
)
from remote_shuffle_spark.sources.local import local_frame

# Cosines are rounded to this many digits BEFORE ranking or thresholding,
# so the selected ids are reproducible by an engine accumulating the dot
# product in a different order.
ROUND_TO = 6
# floor(v * QSCALE) integer quantization of the integer-exact operators.
QSCALE = 127
# PQ geometry of the persisted index: codes per vector, codebook entries
# per subspace, and the default cell count.  The writer and its readers
# all use these, so an index cannot be read with a different geometry.
NUM_SUBSPACES = 8
NUM_CENTROIDS = 16
NUM_CELLS = 8
# id-hash subgroups of the first top-k phase (reducer work = rows / this).
NUM_SUBGROUPS = 64


def topk_per_key(
    scored: DataFrame, key: str, order: list, k: int, id_col: str, rank_col: str
) -> DataFrame:
    """The ``k`` best rows of ``scored`` per ``key`` value under
    ``order`` (include ``id_col`` last for a deterministic tie-break),
    numbered 1..k in ``rank_col``.

    TWO-PHASE so no reducer ever sorts a corpus-sized slice: rows first
    shuffle on (key, id-hash % NUM_SUBGROUPS) for a per-subgroup window
    top-k, then the key × NUM_SUBGROUPS × k survivors take a second, tiny
    window.  A single window on the key alone would hand each reducer
    every row of its key (the classic top-k skew: with Q queries and 32
    reducers, minutes versus a stuck stage at 100 TB)."""
    w1 = W.partitionBy(key, "_sub").orderBy(*order)
    w2 = W.partitionBy(key).orderBy(*order)
    return (
        scored.withColumn("_sub", F.pmod(F.xxhash64(id_col), F.lit(NUM_SUBGROUPS)))
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_sub")
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )


def _cosine(a: Column, b: Column) -> Column:
    return F.round(cosine_similarity(a, b), ROUND_TO)


def _top_cosine(pairs: DataFrame, id_col: str, vec: Column, qvec: Column, k: int) -> DataFrame:
    """(id_col, cos_sim) of the k most similar rows, ties to smallest id."""
    return (
        pairs.select(F.col(id_col), _cosine(vec, qvec).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, query_df: DataFrame, *, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity to the (single-row) query vector.

    ``query_df`` must have one row with column ``vec_col``; it is
    broadcast, so the big side never shuffles — the plan is
    scan → broadcast nested loop (1 row) → project cosine → TakeOrdered(k).
    """
    q = F.broadcast(query_df.select(to_double_array(vec_col).alias("_qvec")))
    return _top_cosine(df.crossJoin(q), id_col, to_double_array(vec_col), F.col("_qvec"), k)


# K at or below this uses the pure-expression argmax (no Python workers to
# spin up — right for tiny frames/tests); above it an Arrow-batched pandas
# UDF over a broadcast numpy centroid matrix does one matmul per batch.
# The crossover is LOW: higher-order array lambdas evaluate interpreted
# (not codegen'd), so the expr argmax measured 10x slower than the Arrow
# matmul already at K=16 × 2000 rows × dim 64 — and the literal plan also
# blows past JVM codegen limits for K in the thousands (docs/scale.md
# prescribes K ≈ √corpus-rows).
_EXPR_MAX_CENTROIDS = 8


def assign_ivf_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids_df: DataFrame,
    *,
    method: str = "auto",
    round_to: int | None = None,
    _collected_centroids: list | None = None,
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (IVF build step).

    ``centroids_df`` is (cid, cvec).  Both paths are NARROW (no shuffle)
    single passes over the corpus; returns df + ``cell`` column (at
    scale, persist partitioned by cell):

    - ``method="expr"`` — centroids inlined as literals, per-row argmax as
      an ``array_max`` over (sim, cid) structs.  Fully codegen'd, but the
      plan is O(K·dim) literals: right for small K only.
    - ``method="pandas"`` — centroids broadcast once as a unit-normalized
      numpy matrix; an iterator pandas UDF computes each Arrow batch's
      argmax with one (batch × K) matmul.  This is the 100 TB path for
      K ≈ √corpus-rows (thousands+), where the literal plan can't compile.
    - ``method="auto"`` (default) — expr for K ≤ _EXPR_MAX_CENTROIDS (8,
      the measured crossover), pandas above.

    Tie-break in both paths: equal similarity → larger cid wins (the
    struct-max ordering of the expr form, emulated in the pandas form by
    ordering centroid columns by cid descending before argmax).
    ``round_to`` rounds each similarity before the argmax so the
    assignment is reproducible by an external engine computing cosine
    with a different accumulation order (semantic_dedup's oracle).
    """
    cents = (
        _collected_centroids
        if _collected_centroids is not None
        else [(r["cid"], r["cvec"]) for r in centroids_df.select("cid", "cvec").collect()]
    )
    if method == "auto":
        method = "expr" if len(cents) <= _EXPR_MAX_CENTROIDS else "pandas"

    if method == "expr":
        v = to_double_array(vec_col)

        def _sim(cvec):
            s = cosine_similarity(v, F.array(*[F.lit(float(x)) for x in cvec]))
            return F.round(s, round_to) if round_to is not None else s

        scored = F.array(
            *[
                F.struct(_sim(cvec).alias("s"), F.lit(int(cid)).alias("c"))
                for cid, cvec in cents
            ]
        )
        return df.withColumn("cell", F.array_max(scored)["c"])

    if method != "pandas":
        raise ValueError(f"unknown method {method!r}; use 'auto', 'expr', or 'pandas'")

    # cid-DESCENDING column order: np.argmax returns the FIRST max, so on
    # exact similarity ties the largest cid wins — same as the expr form.
    order = sorted(((int(c), list(v)) for c, v in cents), key=lambda cv: -cv[0])
    cids = np.array([c for c, _ in order], dtype=np.int64)
    mat = np.array([v for _, v in order], dtype=np.float64)  # K × dim
    cnorm = np.linalg.norm(mat, axis=1)
    matn = mat / np.where(cnorm > 0.0, cnorm, 1.0)[:, None]
    matn[cnorm == 0.0] = 0.0  # zero centroid → cosine 0 (guard parity)
    bc = df.sparkSession.sparkContext.broadcast((cids, matn))

    @F.pandas_udf("int")
    def _cell(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cids_, matn_ = bc.value
        for s in batches:
            if len(s) == 0:
                yield pd.Series([], dtype="int32")
                continue
            # single C-level conversion: a per-row np.asarray loop here
            # measured 13x slower and dominated the assignment pass at 2M
            # vectors (docs/scale.md 10x probe)
            V = np.array(s.tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(V, axis=1)
            Vn = V / np.where(vnorm > 0.0, vnorm, 1.0)[:, None]
            Vn[vnorm == 0.0] = 0.0  # zero vector → all sims 0, max-cid cell
            sims = Vn @ matn_.T  # batch × K
            if round_to is not None:
                sims = np.round(sims, round_to)
            yield pd.Series(cids_[np.argmax(sims, axis=1)], dtype="int64").astype("int32")

    return df.withColumn("cell", _cell(to_double_array(vec_col)))


def seed_centroids(df: DataFrame, id_col: str, vec_col: str, *, k: int) -> DataFrame:
    """Deterministic centroid seeds: the k smallest ids (k-means init
    stand-in; a real pipeline would run k-means|| — pyspark.ml KMeans —
    but the IVF mechanics are identical).

    cid is ``row_number() over (order by id)`` — a plan-independent
    function of the data.  monotonically_increasing_id() after
    orderBy().limit(k) is stable only while the limit collapses to one
    partition, so a plan change would silently renumber the cells."""
    w = W.orderBy(F.col(id_col))
    return (
        df.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(w) - F.lit(1)).cast("int").alias("cid"),
            to_double_array(vec_col).alias("cvec"),
        )
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 10,
    num_cells: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` cells nearest the query.

    Recall < 1 by design; with nprobe == num_cells this degrades to exact.
    The pruning predicate is ``cell IN (probed)`` — on a cell-partitioned
    table that is partition pruning, i.e. the scan itself shrinks.
    ``centroids`` (cid, cvec) overrides the deterministic seeds — plug in
    operators.clustering.kmeans_centroids for trained cells.
    """
    cents = centroids if centroids is not None else seed_centroids(df, id_col, vec_col, k=num_cells)
    # ONE driver collect of the (tiny, K-row) centroid table serves both
    # the per-row assignment expression and the query-side cell ranking —
    # ranking nprobe cells against one query vector is driver-side math,
    # not a Spark job, so the whole probe is two jobs (query collect +
    # pruned scan) instead of four
    cent_rows = [
        (int(r["cid"]), list(r["cvec"])) for r in cents.select("cid", "cvec").collect()
    ]
    assigned = assign_ivf_cells(df, id_col, vec_col, cents, _collected_centroids=cent_rows)
    q = query_df.select(to_double_array(vec_col).alias("qv")).collect()[0]["qv"]

    def _cos(a: list, b: list) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na > 0 and nb > 0 else 0.0

    ranked = sorted(cent_rows, key=lambda c: (-_cos(c[1], list(q)), c[0]))
    pruned = assigned.filter(F.col("cell").isin([cid for cid, _ in ranked[:nprobe]]))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return _top_cosine(pruned, id_col, to_double_array(vec_col), qcol, k)


def _lsh_probes(
    q: DataFrame, key: str, dim: int, num_planes: int, hamming_radius: int
) -> DataFrame:
    """(key, _bucket): each row of ``q`` (which carries a ``_qvec``
    double array) exploded over every bucket within ``hamming_radius``
    sign-bit flips of its own.  The flip masks are data-INDEPENDENT and
    enumerated driver-side."""
    if not 0 <= hamming_radius <= num_planes:
        raise ValueError(f"hamming_radius must be in [0, {num_planes}]")
    masks = [0] + [
        sum(1 << bit for bit in bits)
        for r in range(1, hamming_radius + 1)
        for bits in combinations(range(num_planes), r)
    ]
    qb = q.select(key, _lsh_bucket(F.col("_qvec"), num_planes, dim).alias("_qb"))
    return qb.select(
        key,
        F.explode(F.array(*[F.col("_qb").bitwiseXOR(F.lit(m)) for m in masks])).alias("_bucket"),
    )


def _lsh_corpus(df: DataFrame, id_col: str, vec_col: str, dim: int, num_planes: int) -> DataFrame:
    """(id_col, _vec, _bucket).  The double array is materialized ONCE
    before the sign-bit lambdas: HOF lambdas re-evaluate inlined
    subtrees per element, so an inlined cast would run once per plane."""
    return df.select(F.col(id_col), to_double_array(vec_col).alias("_vec")).withColumn(
        "_bucket", _lsh_bucket(F.col("_vec"), num_planes, dim)
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 10,
    dim: int,
    num_planes: int = 8,
    hamming_radius: int = 1,
) -> DataFrame:
    """LSH-bucketed approximate top-k: probe only buckets within
    ``hamming_radius`` sign-bit flips of the query's bucket.

    The scale path next to :func:`ivf_topk` (no training step): every
    vector gets a ``num_planes``-bit random-hyperplane signature — a pure
    expression, no stored matrix — and the query joins only the probed
    buckets, broadcast: on a bucket-partitioned table the bucket
    equi-join is partition pruning, exactly like IVF's cell pruning.
    Recall rises with the radius; ``hamming_radius=num_planes`` probes
    every bucket and degrades to exact search — the oracle hook.

    Returns (id_col, cos_sim), deterministic tie-break on id.
    """
    q = query_df.select(to_double_array(vec_col).alias("_qvec"))
    probes = _lsh_probes(q, "_qvec", dim, num_planes, hamming_radius)
    pairs = _lsh_corpus(df, id_col, vec_col, dim, num_planes).join(F.broadcast(probes), "_bucket")
    return _top_cosine(pairs, id_col, F.col("_vec"), F.col("_qvec"), k)


def _ranked_neighbors(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """(query_id, rank, id_col, cos_sim) from (_qid, _id, cos_sim)."""
    return topk_per_key(
        scored, "_qid", [F.col("cos_sim").desc(), F.col("_id")], k, "_id", "rank"
    ).select(F.col("_qid").alias("query_id"), "rank", F.col("_id").alias(id_col), "cos_sim")


def knn_join(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    query_id_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Batch exact k-NN join: EVERY query vector gets its ``k`` nearest
    corpus rows by cosine — the many-probe sibling of
    :func:`brute_force_topk` (training-data pipelines rarely probe one
    vector; they attach neighbors to a whole eval batch at once).

    Plan shape: the query batch is broadcast (bounded — a batch, not a
    second corpus), the corpus side stays NARROW through scoring
    (scan → broadcast nested loop → project cosine), and the per-query
    top-k is :func:`topk_per_key`.  For corpus sizes where even the
    scoring scan is too much per query batch, use :func:`knn_join_lsh`
    (partition pruning replaces the scan; this operator is the exact
    baseline).

    Zero-norm vectors score 0.0; ties break on corpus id.  Returns
    (query_id, rank, id, cos_sim), rank 1..k.
    """
    q = F.broadcast(
        queries_df.select(
            F.col(query_id_col).alias("_qid"), to_double_array(vec_col).alias("_qvec")
        )
    )
    scored = df.crossJoin(q).select(
        F.col("_qid"),
        F.col(id_col).alias("_id"),
        _cosine(to_double_array(vec_col), F.col("_qvec")).alias("cos_sim"),
    )
    return _ranked_neighbors(scored, id_col, k)


def knn_join_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    query_id_col: str,
    *,
    k: int = 10,
    dim: int,
    num_planes: int = 8,
    hamming_radius: int = 1,
) -> DataFrame:
    """Batch LSH k-NN join — the SUBLINEAR path next to the exact
    :func:`knn_join`: many query vectors share ONE bucketed corpus scan
    instead of per-query probes.

    Each query explodes into its probe-bucket set and the bounded
    (query × probes) table is BROADCAST onto a bucket EQUI-join, so the
    corpus is scored only on candidate rows (expected corpus × probes /
    2^planes), not crossJoined.  Each corpus row lives in exactly one
    bucket and a query's probe buckets are distinct, so no (query, row)
    pair is scored twice.  The two-phase :func:`topk_per_key` stays
    because candidate sets can still be corpus-sized at full radius.

    ``hamming_radius=num_planes`` degrades to the exact join — the
    oracle hook; smaller radii trade recall for a corpus-sublinear scan,
    with recall@k pinned in tests/test_operators_similarity.py.

    Returns (query_id, rank, id_col, cos_sim), rank 1..k within the
    probed candidates.
    """
    q = queries_df.select(
        F.col(query_id_col).alias("_qid"), to_double_array(vec_col).alias("_qvec")
    )
    # TWO broadcasts instead of one: the probe table carries only
    # (_qid, _bucket) — broadcasting the 64-double vector duplicated per
    # probe would inflate the broadcast by the probe factor (up to
    # 2^num_planes at full radius: 10k queries x 256 probes x 512 B
    # ≈ 1.3 GB); the vectors ship ONCE in a second Q-row broadcast
    # attached by _qid after the bucket join prunes candidates.
    probes = _lsh_probes(q, "_qid", dim, num_planes, hamming_radius)
    scored = (
        _lsh_corpus(df, id_col, vec_col, dim, num_planes)
        .join(F.broadcast(probes), "_bucket")
        .join(F.broadcast(q), "_qid")
        .select(
            F.col("_qid"),
            F.col(id_col).alias("_id"),
            _cosine(F.col("_vec"), F.col("_qvec")).alias("cos_sim"),
        )
    )
    return _ranked_neighbors(scored, id_col, k)


def _recall_rows(pids: DataFrame, approx: DataFrame, exact: DataFrame, order: Column, k: int) -> DataFrame:
    """Per probe of ``pids`` (``_pid`` plus audit count columns):
    ``hits`` = overlap of the approximate and exact top-k — both
    (_pid, _id, _score), ranked by ``order`` then id — and recall_at_k =
    hits / k.  Returns (probe_id, audit..., hits, recall_at_k)."""

    def _top(scored: DataFrame) -> DataFrame:
        return topk_per_key(scored, "_pid", [order, F.col("_id")], k, "_id", "_rn").select(
            "_pid", "_id"
        )

    hits = (
        _top(approx)
        .join(_top(exact), ["_pid", "_id"])
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    n = F.coalesce(F.col("hits"), F.lit(0))
    audit = [F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in pids.columns[1:]]
    return (
        pids.join(hits, "_pid", "left")
        .select(
            F.col("_pid").alias("probe_id"),
            *audit,
            n.cast("long").alias("hits"),
            (n / F.lit(k)).cast("double").alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


def quantization_recall_at_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probes_df: DataFrame,
    probe_id_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """Embedding-quantization quality evaluation: per probe, recall@k of
    the COARSE-quantized (int8-style, ``floor(v * 127)``) dot-product
    ranking against the FINE-quantized reference ranking (``floor(v *
    2^20)`` — beyond float32 mantissa precision for unit-scale
    embeddings, i.e. the exact ranking).  This is the measurement that
    gates an int8 ANN index rollout in an embedding pipeline: how much
    ranking quality does 8-bit storage give up.

    Everything is INTEGER arithmetic end-to-end — both rankings order by
    exact integer dot products with id tie-breaks — so the result is
    bit-reproducible across engines regardless of float summation order
    (the reason the reference ranking is fine-QUANTIZED rather than raw
    float).  Returns (probe_id, hits, recall_at_k) per probe.

    Scale shape: probes broadcast; the corpus stays narrow through
    scoring.  A full-corpus evaluation pass is a diagnostic; at 100 TB
    run it over a sampled corpus slice (the measurement, a recall ratio,
    is stable under sampling).
    """
    fine = 1 << 20

    def _both(frame: DataFrame, key: str, key_out: str, p: str) -> DataFrame:
        return frame.select(
            F.col(key).alias(key_out),
            quantize_floor(vec_col, QSCALE).alias(p + "c"),
            quantize_floor(vec_col, fine).alias(p + "f"),
        )

    probes = _both(probes_df, probe_id_col, "_pid", "_p")
    scored = (
        _both(df, id_col, "_id", "_x")
        .crossJoin(F.broadcast(probes))
        .filter(F.col("_id") != F.col("_pid"))
        .select(
            "_pid",
            "_id",
            int_dot(F.col("_xc"), F.col("_pc")).alias("_dc"),
            int_dot(F.col("_xf"), F.col("_pf")).alias("_df"),
        )
    )
    return _recall_rows(
        probes.select("_pid"),
        scored.select("_pid", "_id", F.col("_dc").alias("_score")),
        scored.select("_pid", "_id", F.col("_df").alias("_score")),
        F.col("_score").desc(),
        k,
    )


# --------------------------------------------------------------------------
# Integer PQ / IVFADC: one model, one encode, one LUT/ADC scorer
# --------------------------------------------------------------------------

def _quantized(df: DataFrame, id_col: str, vec_col: str, id_out: str, q_out: str) -> DataFrame:
    return df.select(F.col(id_col).alias(id_out), quantize_floor(vec_col, QSCALE).alias(q_out))


def _subvec(q: Column, s: Column, m: int) -> Column:
    """Sub-vector ``s`` of ``q`` split into ``m`` contiguous pieces.  The
    width comes from the vector's own length, so no element past a
    hard-coded dimension is silently dropped."""
    w = (F.size(q) / m).cast("int")
    return F.slice(q, s * w + 1, w)


def _per_subspace(m: int, f) -> Column:
    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), f)


def _pq_model(qdf: DataFrame, num_cells: int, num_centroids: int, m: int) -> tuple[DataFrame, DataFrame]:
    """The deterministic IVFADC model over quantized vectors (_id, _q):
    cell centroids (cid, cv) = the ``num_cells`` smallest-id vectors, and
    the codebook (j, s, cv) = the ``m`` sub-vectors of the
    ``num_centroids`` smallest-id vectors.  These stand in for k-means;
    the encode/LUT/ADC machinery is identical with trained models, and
    determinism is what makes the results oracle-checkable.

    Ordered limits, not ``id < n`` filters: with sparse or non-zero-based
    ids a value filter silently shrinks (or empties) the model and recall
    quietly degrades to 0."""
    first = qdf.orderBy("_id")
    cellc = first.limit(num_cells).select(F.col("_id").alias("cid"), F.col("_q").alias("cv"))
    cents = first.limit(num_centroids).select(
        F.col("_id").alias("j"),
        F.posexplode(_per_subspace(m, lambda s: _subvec(F.col("_q"), s, m))).alias("s", "cv"),
    )
    return cellc, cents


def _fold_codebook(cents: DataFrame) -> DataFrame:
    """Fold the (j, s, cv) subspace codebook — ≤ num_centroids ×
    num_subspaces rows — into ONE row holding ``_book``: an array indexed
    by subspace ``s`` (ascending) of ``(j, cv)`` struct arrays sorted by
    ``j``.  The fold is a constant-size aggregation (the exchanges it
    plans carry ≤ m·k rows regardless of corpus size); broadcast-joining
    the folded row lets encode and ADC scoring run as pure per-row array
    math with NO corpus-proportional shuffle.  An empty codebook yields
    no row, so nothing indexes into an empty ``_book``."""
    return (
        cents.groupBy("s")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("j"), F.col("cv")))).alias("_e"))
        .agg(F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("_e")))).alias("_sb"))
        .select(F.transform(F.col("_sb"), lambda x: x["_e"]).alias("_book"))
        .filter(F.size(F.col("_book")) > 0)
    )


def _pq_codes(q: Column, m: int) -> Column:
    """Per-subspace PQ codes of ``q`` against the folded ``_book``
    column: the argmin as ``array_min`` over (integer L2, j) structs —
    lexicographic, so ties go to the smallest code."""
    return _per_subspace(
        m,
        lambda s: F.array_min(
            F.transform(
                F.element_at(F.col("_book"), s + 1),
                lambda e: F.struct(
                    int_sq_l2(_subvec(q, s, m), e["cv"]).alias("_d"), e["j"].alias("_j")
                ),
            )
        )["_j"],
    )


def _ivf_encode(qdf: DataFrame, cellc: DataFrame, cents: DataFrame) -> DataFrame:
    """The IVFADC encode stage: quantized vectors ``(_id, _q)`` against a
    centroid table ``(cid, cv)`` and a codebook ``(j, s, cv)`` — argmin
    cell (ties to smallest cid) plus the PQ codes, as
    ``(id, cell, codes array<long>)``.  The index build, the index
    upsert (model FROZEN, read back from the index) and
    :func:`ivf_pq_recall_at_k` all run exactly this, so the encode math
    cannot drift between them.

    The model tables fold into ONE broadcast row of arrays and every
    vector computes its cell and codes as per-row array expressions —
    the corpus side is exchange-free.  An EMPTY centroid table yields
    zero output rows."""
    cells_arr = cellc.agg(
        F.array_sort(F.collect_list(F.struct(F.col("cid"), F.col("cv")))).alias("_cells")
    )
    model = F.broadcast(
        cells_arr.crossJoin(_fold_codebook(cents)).filter(F.size(F.col("_cells")) > 0)
    )
    return qdf.crossJoin(model).select(
        F.col("_id").alias("id"),
        nearest_int_l2(F.col("_q"), F.col("_cells"))["_cid"].alias("cell"),
        _pq_codes(F.col("_q"), NUM_SUBSPACES).alias("codes"),
    )


def _adc_luts(pq: DataFrame, cents: DataFrame, m: int) -> DataFrame:
    """(_pid, _lut): per probe ``(_pid, _pq)`` ONE row whose ``_lut[s]``
    maps code j → integer L2 from the probe's sub-vector s to codebook
    entry (j, s).  Each candidate then scores itself per-row
    (:func:`_adc_dist`), so the only candidate-proportional work is a
    broadcast hash join on _pid plus an array fold."""
    lut = _per_subspace(
        m,
        lambda s: F.map_from_entries(
            F.transform(
                F.element_at(F.col("_book"), s + 1),
                lambda e: F.struct(
                    e["j"].alias("_code"),
                    int_sq_l2(_subvec(F.col("_pq"), s, m), e["cv"]).alias("_ld"),
                ),
            )
        ),
    )
    return pq.crossJoin(F.broadcast(_fold_codebook(cents))).select("_pid", lut.alias("_lut"))


def _adc_dist(codes: Column) -> Column:
    """Approximate (ADC) distance: the sum of the ``_lut`` entries the
    codes select, one per subspace — exact integer addition."""
    return F.aggregate(
        F.zip_with(codes, F.col("_lut"), lambda c, mp: F.element_at(mp, c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _probed_cells(pq: DataFrame, cellc: DataFrame, nprobe: int) -> DataFrame:
    """(_pid, cell): the ``nprobe`` cells nearest each probe by exact
    integer L2, ties to smallest cid (probes × cells rows — tiny)."""
    return (
        pq.crossJoin(F.broadcast(cellc))
        .select("_pid", "cid", int_sq_l2(F.col("_pq"), F.col("cv")).alias("_cd"))
        .withColumn("_rn", F.row_number().over(W.partitionBy("_pid").orderBy("_cd", "cid")))
        .filter(F.col("_rn") <= nprobe)
        .select("_pid", F.col("cid").alias("cell"))
    )


def _adc_scan(codes: DataFrame, probecells: DataFrame, pq: DataFrame, cents: DataFrame):
    """ADC-score each probe's candidates — the encoded rows (id, cell,
    codes) in its probed cells, minus itself.  Returns
    ``(scored (_pid, id, _score), scanned (_pid, scanned))``; the only
    aggregation over candidates is the combinable ``scanned`` count."""
    cand = (
        codes.join(F.broadcast(probecells), "cell")
        .filter(F.col("id") != F.col("_pid"))
        .select("_pid", "id", "codes")
    )
    scanned = cand.groupBy("_pid").agg(F.count(F.lit(1)).cast("long").alias("scanned"))
    scored = cand.join(F.broadcast(_adc_luts(pq, cents, NUM_SUBSPACES)), "_pid").select(
        "_pid", "id", _adc_dist(F.col("codes")).alias("_score")
    )
    return scored, scanned


def _exact_dists(qdf: DataFrame, pq: DataFrame) -> DataFrame:
    """(_pid, _id, _score): exact integer L2 of every probe to every
    other corpus vector — the evaluation ground truth."""
    return (
        qdf.crossJoin(F.broadcast(pq))
        .filter(F.col("_id") != F.col("_pid"))
        .select("_pid", "_id", int_sq_l2(F.col("_q"), F.col("_pq")).alias("_score"))
    )


def pq_recall_at_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probes_df: DataFrame,
    probe_id_col: str,
    *,
    k: int = 10,
    num_subspaces: int = NUM_SUBSPACES,
    num_centroids: int = NUM_CENTROIDS,
) -> DataFrame:
    """Product-quantization ANN evaluation: per probe, recall@k of the
    PQ/ADC ranking against the exact (quantized-integer) L2 ranking —
    the compression rung of the similarity family (IVF prunes WHICH
    vectors to score; PQ compresses HOW each vector is stored:
    ``num_subspaces`` one-byte codes per vector instead of the raw
    floats, a 32x storage cut at the defaults and 64 dims).

    Mechanics, all INTEGER arithmetic so rankings are bit-reproducible
    across engines: vectors are quantized (``floor(v*127)``) and split
    into ``num_subspaces`` contiguous sub-vectors; the codebook is
    :func:`_pq_model`'s; each vector's code per subspace is its nearest
    codebook entry; per probe an ADC lookup table prices every code, and
    a vector's approximate distance is the sum of its codes' entries.
    recall@k compares the ADC top-k with the exact top-k.

    Scale shape: the codebook folds into one broadcast row, the corpus
    is encoded per row (no aggregation exchange on the corpus side), and
    probes and LUTs broadcast.  Returns (probe_id, hits, recall_at_k).
    """
    m = num_subspaces
    qdf = _quantized(df, id_col, vec_col, "_id", "_q")
    pq = _quantized(probes_df, probe_id_col, vec_col, "_pid", "_pq")
    _, cents = _pq_model(qdf, 0, num_centroids, m)
    codes = qdf.crossJoin(F.broadcast(_fold_codebook(cents))).select(
        "_id", _pq_codes(F.col("_q"), m).alias("_codes")
    )
    adc = (
        codes.crossJoin(F.broadcast(_adc_luts(pq, cents, m)))
        .filter(F.col("_id") != F.col("_pid"))
        .select("_pid", "_id", _adc_dist(F.col("_codes")).alias("_score"))
    )
    return _recall_rows(pq.select("_pid"), adc, _exact_dists(qdf, pq), F.col("_score"), k)


def ivf_pq_recall_at_k(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probes_df: DataFrame,
    probe_id_col: str,
    *,
    k: int = 10,
    num_cells: int = NUM_CELLS,
    nprobe: int = 2,
) -> DataFrame:
    """IVFADC — the composed IVF + PQ layout every production vector
    store actually runs: IVF cells prune WHICH vectors are scored
    (``nprobe`` of ``num_cells`` cells per probe), then the ADC scan
    runs ONLY over the pruned candidates' PQ codes.  This is what makes
    PQ's storage cut pay at query time: the scan fraction is
    ~``nprobe / num_cells`` of the corpus instead of all of it.

    It is the persisted index's pipeline over the in-memory corpus —
    :func:`_pq_model`, :func:`_ivf_encode`, then
    :func:`ivf_pq_indexed_topk`'s probe and ADC stages — evaluated
    against the EXACT full-corpus top-k, so recall@k prices BOTH losses
    (cell pruning + code compression).  With ``nprobe == num_cells`` the
    candidate set is the whole corpus and the result degrades exactly to
    plain PQ (pytest-pinned).  Returns (probe_id, scanned, hits,
    recall_at_k); ``scanned`` counts each probe's candidates — the audit
    column that shows the scan fraction."""
    qdf = _quantized(df, id_col, vec_col, "_id", "_q")
    pq = _quantized(probes_df, probe_id_col, vec_col, "_pid", "_pq")
    cellc, cents = _pq_model(qdf, num_cells, NUM_CENTROIDS, NUM_SUBSPACES)
    adc, scanned = _adc_scan(
        _ivf_encode(qdf, cellc, cents), _probed_cells(pq, cellc, nprobe), pq, cents
    )
    return _recall_rows(
        pq.select("_pid").join(scanned, "_pid", "left"),
        adc.withColumnRenamed("id", "_id"),
        _exact_dists(qdf, pq),
        F.col("_score"),
        k,
    )


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    *,
    k: int = 4,
    pool: int = 12,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998)
    — the standard greedy diverse-top-k used for retrieval result
    diversification and diverse training-sample curation: pick the most
    relevant item first, then repeatedly the item maximizing
    ``relevance - max-similarity-to-already-selected`` (the lambda=1/2
    MMR objective scaled by 2, so everything stays INTEGER and
    bit-reproducible under floor(v*127) quantization; ties to
    smallest id).

    Returns (rank, id, rel, mmr_score) for the ``k`` selected items
    (rank 1's mmr_score is its relevance — no selected set yet).

    Scale shape: two jobs.  The quantized query vector (the first row
    of ``query_df``) comes to the driver and enters the relevance pass
    as a literal; the candidate POOL (top ``pool`` by relevance) is one
    narrow corpus pass plus a TakeOrdered (per-partition top-``pool``,
    then a merge — no corpus-wide sort, no join) and the one pool
    collect.  The pool's pairwise similarities (pool^2 integer dots,
    exact on the collected Python ints) and the greedy loop are
    driver-side math over that bounded object, never a corpus-sized
    collect; the answer goes back as a ``LocalTableScan``."""
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"rank int, {id_col} {id_type}, rel long, mmr_score long"
    q = query_df.select(quantize_floor(vec_col, QSCALE).alias("_mq")).take(1)
    if not q:
        return local_frame(spark, [], schema)
    pool_rows = (
        _quantized(df, id_col, vec_col, "_id", "_xq")
        .select("_id", "_xq", int_dot(F.col("_xq"), F.lit(q[0]._mq)).alias("_rel"))
        .orderBy(F.col("_rel").desc(), "_id")
        .limit(pool)
        .collect()
    )
    vecs = {r._id: r._xq for r in pool_rows}
    sims = {
        (a, b): sum(x * y for x, y in zip(vecs[a], vecs[b]))
        for a in vecs
        for b in vecs
        if a != b
    }
    cands = {r._id: r._rel for r in pool_rows}

    selected: list[tuple[int, int, int, int]] = []  # (rank, id, rel, score)
    chosen: list[int] = []
    for rank in range(1, min(k, len(cands)) + 1):
        best = None
        for cid, rel in cands.items():
            if cid in chosen:
                continue
            msim = max((sims[(cid, s)] for s in chosen), default=None)
            score = rel if msim is None else rel - msim
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, score)
        _, cid, rel, score = best
        chosen.append(cid)
        selected.append((rank, cid, rel, score))
    return local_frame(spark, selected, schema)


# --------------------------------------------------------------------------
# Persisted IVF/PQ index with partition-pruned probes
# --------------------------------------------------------------------------

def ivf_pq_write_index(df: DataFrame, id_col: str, vec_col: str, path: str) -> None:
    """Materialize the IVFADC index LAYOUT that makes
    :func:`ivf_pq_recall_at_k`'s pruning a property of the STORAGE, not
    the query: the encoded corpus — ``(id, codes array<long>)``,
    NUM_SUBSPACES small ints per vector — written ``partitionBy(cell)``,
    so a probe's nprobe/NUM_CELLS scan fraction becomes parquet
    PARTITION PRUNING (directories never listed) instead of a post-scan
    filter.  The tiny model tables ride along under the same root
    (``centroids/``, ``codebook/``) so a query needs no access to the raw
    corpus at all.

    Same model (:func:`_pq_model`) and encode (:func:`_ivf_encode`) as
    ivf_pq_recall_at_k, so a DuckDB oracle can replay the index content
    exactly.  One corpus pass computes assignment + codes, plus one
    narrow write shuffle on cell.

    docs/scale.md:53's promise, measured: scan fraction == probed
    cells' share of files (tests/test_operators_similarity.py pins the
    PartitionFilters plan node and the on-disk fraction;
    ext_ivf_pq_indexed is the gate query)."""
    qdf = _quantized(df, id_col, vec_col, "_id", "_q")
    # model tables are <= NUM_CENTROIDS rows but DERIVE from a full-corpus
    # top-k — materialize each once so the encode job, and the two model
    # writes below, don't re-run that scan (3x measured before; the build
    # is then the advertised single corpus pass plus tiny-frame jobs)
    cellc, cents = (
        t.localCheckpoint(eager=True)
        for t in _pq_model(qdf, NUM_CELLS, NUM_CENTROIDS, NUM_SUBSPACES)
    )
    write_index(_ivf_encode(qdf, cellc, cents), f"{path}/codes", layout=by_partition("cell", "id"))
    write_index(cellc, f"{path}/centroids", layout=None)
    write_index(cents, f"{path}/codebook", layout=None)


def ivf_pq_upsert(spark, path: str, delta_df: DataFrame, id_col: str, vec_col: str) -> None:
    """Incremental INGEST into a persisted :func:`ivf_pq_write_index`
    layout: the delta is encoded against the index's FROZEN model tables
    (centroids + codebook read back from ``path`` — never retrained, so
    existing codes stay valid and comparable) and its code rows are
    APPENDED into only the touched ``cell=`` partition directories — the
    vector-index twin of the incremental dedup band index, and the same
    materialized-state thesis: index built once, every ingest pays only
    delta-proportional encode + append, and probes see old and new
    vectors through one partition-pruned scan.

    At lake scale appends accumulate small files per cell; compact
    chosen cells with ``plans.index_store.compact_index(spark,
    f"{path}/codes", parts=cells)``, which rewrites just their
    directories — the model tables never change until a full
    re-train/re-build."""
    codes = _ivf_encode(
        _quantized(delta_df, id_col, vec_col, "_id", "_q"),
        read_index(spark, f"{path}/centroids"),
        read_index(spark, f"{path}/codebook"),
    )
    append_index(spark, f"{path}/codes", codes)


def ivf_pq_indexed_topk(
    spark,
    path: str,
    probes_df: DataFrame,
    probe_id_col: str,
    vec_col: str,
    *,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """ADC top-k over a PERSISTED :func:`ivf_pq_write_index` layout with
    PARTITION-PRUNED probes: the probed cell ids (at most
    nprobe x probes, itself capped by the index's cell count — a bounded
    driver list by construction) are pushed as a static IN filter on the
    ``cell`` partition column, so Spark lists ONLY the probed cell
    directories (PartitionFilters in the scan node — plan-pinned) and
    the scan cost is the probed fraction of the index, with the raw
    corpus never touched.

    Returns (probe_id, scanned, rank, id, adc_dist) — ``scanned`` is the
    per-probe candidate count (the row-level pruning audit), ranks 1..k
    by integer ADC distance with ties to smallest id.  A probe whose
    probed cells hold NO other vectors yields no output rows (a top-k
    table has nowhere to put an empty result): callers that must
    distinguish "no neighbors" from "request lost" should left-join
    their probe list against the result.

    Scale shape: model tables and per-probe LUTs broadcast; the pruned
    code scan is NUM_SUBSPACES small ints per row; ADC is a per-row fold
    (:func:`_adc_scan`); top-k is :func:`topk_per_key`."""
    cents = read_index(spark, f"{path}/centroids")
    pq = _quantized(probes_df, probe_id_col, vec_col, "_pid", "_pq")
    # lazy (probes x nprobe rows; read twice): the cells collect is the
    # sole first consumer — one job computes + persists; the broadcast
    # build in _adc_scan reads the persisted blocks
    probecells = _probed_cells(pq, cents, nprobe).localCheckpoint(eager=False)
    cells = [r[0] for r in probecells.select("cell").distinct().collect()]
    codes = read_index(spark, f"{path}/codes").filter(F.col("cell").isin(cells))
    adc, scanned = _adc_scan(codes, probecells, pq, read_index(spark, f"{path}/codebook"))
    topk = topk_per_key(adc, "_pid", [F.col("_score"), F.col("id")], k, "id", "rank")
    return (
        topk.join(scanned, "_pid")
        .select(
            F.col("_pid").alias("probe_id"),
            "scanned",
            F.col("rank").cast("int").alias("rank"),
            "id",
            F.col("_score").cast("long").alias("adc_dist"),
        )
        .orderBy("probe_id", "rank")
    )
