"""Deduplication operators for large-scale text corpora (EXT — SURVEY §2.3).

No counterpart in the reference plugin; these are the LLM-data-pipeline
operators the engine adds, each designed as a composition of narrow
expressions plus ONE intentional shuffle so the pattern survives 100 TB:

- exact:        hash-groupBy on normalized text (1 shuffle on a 64-bit key)
- minhash LSH:  per-row signatures (narrow) → explode bands → bucket
                self-join (shuffle on bucket id) → exact-Jaccard verify
- simhash:      per-row 64-bit fingerprint (narrow) → 16-bit chunk
                self-join (pigeonhole: hamming<4 ⇒ some chunk equal)
- n-gram Jaccard: deterministic prefix blocking → in-block pair scoring
- embedding:    random-hyperplane LSH buckets → in-bucket cosine verify

Hot LSH buckets are the skew risk at scale (a boilerplate header shared by
1M docs makes a quadratic bucket): every candidate generator takes
``max_bucket_size`` and drops oversized buckets, counting them, instead of
letting one bucket OOM an executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from remote_shuffle_spark.functions.hashing import (
    band_hashes,
    normalized_text,
    shingle_structs,
    tokens,
    word_shingles_from_tokens,
)
from remote_shuffle_spark.functions.vectors import cosine_similarity, to_double_array
from remote_shuffle_spark.plans.index_store import append_index, by_range, read_index, write_index

DEFAULT_MAX_BUCKET = 64

# Persisted minhash signature tables are registered here so long-lived
# sessions can reclaim executor memory: the consuming action happens in the
# CALLER's job, so the operator has no safe point to unpersist at.  Call
# :func:`release_cached_intermediates` once the results are materialized.
_CACHED_INTERMEDIATES: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    cached = df.persist()
    _CACHED_INTERMEDIATES.append(cached)
    return cached


def release_cached_intermediates() -> int:
    """Unpersist every intermediate cached by dedup operators in this
    process (signature tables).  Safe to call any time
    after the consuming action; returns the number of frames released."""
    n = 0
    while _CACHED_INTERMEDIATES:
        _CACHED_INTERMEDIATES.pop().unpersist()
        n += 1
    return n


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by 64-bit hash of normalized text.

    Returns one row per distinct normalized text: (text_hash, keep_id,
    dup_count) where keep_id is the smallest id (keep-first policy).
    Grouping on the hash, not the text, keeps shuffle rows ~16 bytes of
    key instead of the whole document — the 100 TB version of
    SELECT min(id) ... GROUP BY text.
    """
    h = F.xxhash64(normalized_text(text_col)).alias("text_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep-first exact dedup: survivors of :func:`exact_duplicates`."""
    keep = exact_duplicates(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    # broadcast-free semi join on the id — both sides shuffle on id_col
    return df.join(keep, on=id_col, how="left_semi")


def keep_best_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score_col: str,
    *,
    min_group: int = 2,
) -> DataFrame:
    """Quality-aware keeper selection over exact-duplicate groups: for
    each group of rows sharing a normalized text, the keeper is the
    HIGHEST-``score_col`` member (ties to the smallest id) — the policy a
    curation pipeline wants when duplicates differ in formatting,
    extraction quality, or source trust, where keep-first
    (:func:`exact_duplicates`) would keep an arbitrary-quality copy.

    Returns one row per duplicate group of size >= ``min_group``:
    (group_key = min id, group_size, keeper_id, keeper_score).  Rows
    whose normalized text is empty are ineligible (never grouped).

    Scale shape: identical to :func:`exact_duplicates` — a single
    combinable groupBy on the 64-bit content hash; ``max_by`` over a
    (score, -id) struct rides the same partial aggregation, so the
    shuffle carries one candidate keeper per (hash, map partition), never
    the documents.
    """
    norm = normalized_text(text_col)
    elig = df.filter(F.length(norm) > 0)
    return (
        elig.select(
            F.xxhash64(norm).alias("_h"), F.col(id_col), F.col(score_col)
        )
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("group_key"),
            F.count(F.lit(1)).alias("group_size"),
            F.max_by(
                F.col(id_col), F.struct(F.col(score_col), -F.col(id_col))
            ).alias("keeper_id"),
            F.max(score_col).alias("keeper_score"),
        )
        .filter(F.col("group_size") >= min_group)
        .drop("_h")
    )


def incremental_new_texts(
    new_df: DataFrame, corpus_df: DataFrame, text_col: str
) -> DataFrame:
    """One-sided incremental dedup: rows of ``new_df`` whose normalized
    text does NOT already exist in ``corpus_df`` — the per-ingest step of
    a continuously-growing corpus (dedup the delta against the lake
    without re-deduping the lake).

    The anti-join runs on 64-bit content hashes, so the exchange carries
    8-byte keys, never documents.  The corpus side is a PLAIN hash
    projection — no ``.distinct()``: duplicate keys on a left-anti
    join's right side cannot change the result, and in a
    mostly-deduped corpus the dedup aggregation passes ~every row
    through while costing an Exchange + two HashAggregates per call
    (r15; a corpus with HEAVY text duplication feeding a sort-merge
    anti-join is the one case where re-adding a distinct's map-side
    partial agg would shrink the shuffle).  At lake scale, persist the
    corpus hash set bucketed by hash
    (plans.shuffle_policy.write_bucketed) and the delta's anti-join
    becomes a zero-exchange merge on the bucket files.
    """
    h = F.xxhash64(normalized_text(text_col))
    corpus_hashes = corpus_df.select(h.alias("_h"))
    return new_df.withColumn("_h", h).join(
        corpus_hashes, "_h", "left_anti"
    ).drop("_h")


# --------------------------------------------------------------------------
# MinHash + LSH near-dedup
# --------------------------------------------------------------------------

def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    reuse: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Pipeline (shuffles annotated):
      1. tokenize in its own projection (evaluated once per doc — HOF
         lambdas re-evaluate inlined subtrees per element, see
         word_shingles_from_tokens), build shingles as token-tuple
         structs (no per-shingle string allocation), explode (narrow)
      2. k seeded hashes per (doc, shingle) row — xxhash64 directly over
         the struct fields — → groupBy(doc) with k MIN aggregates
         (SHUFFLE 1, fully map-side-combinable: k longs per doc reach
         the exchange regardless of document size)
      3. band buckets from the signature; explode bands (narrow)
      4. groupBy bucket (SHUFFLE 2) for bucket sizes; buckets larger than
         ``max_bucket_size`` are dropped (skew guard) — the quadratic pair
         join only ever sees bounded buckets
      5. self-join on bucket (SHUFFLE 3, bounded fan-out), id_a < id_b
    Returns distinct (id_a, id_b).

    ``reuse=True`` (default) persists the signature table (16 longs/doc —
    tiny relative to the corpus), which the banding self-join otherwise
    re-derives per branch.  Round-2 re-measure (after the tokenize-once
    restructure, alternating A/B in one warm process): the crossover is
    still there but shallower — at 5k docs the cache boundary costs
    ~1.4x (1.2-1.8 s vs 1.7-2.4 s, it defeats ReuseExchange), at 200k
    docs reuse wins ~1.1x (6.9 s vs 7.7 s) and the gap grows with corpus
    size.  Scale-correct default stays True; fixture-scale callers (the
    declared queries) pass False.  Call release_cached_intermediates()
    when done (ADVICE round-1).  For 100 TB pipelines materialize the
    signatures durably with plans.shuffle_policy.checkpoint_to instead
    (the reference's remote-map-output philosophy applied at operator
    level).  Corpus-sized intermediates (shingle sets, buckets) are
    never cached — recomputing a narrow derivation beats caching the
    corpus.
    """
    rows_per_band = num_hashes // num_bands
    tk = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("_tk"))
    exploded = tk.select(
        "doc", F.explode(shingle_structs(F.col("_tk"), shingle_len)).alias("sh")
    )
    sh_fields = [F.col(f"sh.t{j}") for j in range(shingle_len)]
    mins = [
        F.min(F.xxhash64(*sh_fields, F.lit(i))).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    sig_df = exploded.groupBy("doc").agg(*mins)
    if reuse:
        sig_df = _register_cache(sig_df)
    sig = F.array(*[F.col(f"s{i}") for i in range(num_hashes)])
    buckets = band_hashes(sig, num_bands, rows_per_band)
    tagged = sig_df.select("doc", F.explode(buckets).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    sizes = tagged.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bsize"))
    # shuffle_merge pins on both bucket joins: the qualifying-bucket set
    # and the rows inside it scale with the corpus's near-dup density
    # (NOT bounded by the per-bucket cap — the cap bounds each bucket,
    # not how many buckets qualify), yet both sit under a Generate whose
    # static size estimate Catalyst trusts enough to plan BHJ (measured:
    # the r10 plan audit showed BuildRight broadcasts on both).  Same
    # static-estimate trap as exact_substring_dedup_stats; AQE can never
    # demote a statically-planned broadcast.
    bounded = tagged.join(
        sizes.filter(
            (F.col("bsize") >= 2) & (F.col("bsize") <= max_bucket_size)
        ).hint("shuffle_merge"),
        ["band", "bucket"],
    )
    a = bounded.select("band", "bucket", F.col("doc").alias("id_a"))
    b = bounded.select("band", "bucket", F.col("doc").alias("id_b"))
    return (
        a.join(b.hint("shuffle_merge"), ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    reuse: bool = True,
) -> DataFrame:
    """LSH candidates verified with exact shingle-set Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard).  Shingle sets are recomputed ONLY for
    documents that appear in some candidate pair: the candidate pair list
    (small — ids only) is materialized once with an eager localCheckpoint,
    its id set semi-joins the corpus (AQE broadcasts the small id side, so
    the corpus scan stays narrow), and the shingling runs on that
    candidate subset.  At corpus scale candidates are a fraction of the
    corpus, so this removes two full-corpus tokenization passes compared
    with shingling everything (measured ~2x on the sf0.1 bench).
    """
    cands = minhash_candidates(
        df,
        id_col,
        text_col,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        num_bands=num_bands,
        max_bucket_size=max_bucket_size,
        reuse=reuse,
    ).localCheckpoint(eager=True)  # small (pairs of ids); feeds id set + verify join
    # no .distinct() on the id set: it only feeds a semi join, whose right
    # side tolerates duplicate keys — deduping it cost an Exchange + two
    # HashAggregates per call (r15)
    cand_ids = cands.select(F.col("id_a").alias(id_col)).union(
        cands.select(F.col("id_b").alias(id_col))
    )
    cand_docs = df.join(cand_ids, on=id_col, how="left_semi")
    sh = cand_docs.select(
        F.col(id_col).alias("sid"), tokens(text_col).alias("_tk")
    ).select(
        "sid",
        F.array_distinct(word_shingles_from_tokens(F.col("_tk"), shingle_len)).alias("sset"),
    )
    pairs = (
        cands.join(sh.withColumnRenamed("sid", "id_a"), "id_a")
        .withColumnRenamed("sset", "set_a")
        .join(sh.withColumnRenamed("sid", "id_b"), "id_b")
        .withColumnRenamed("sset", "set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash near-dedup
# --------------------------------------------------------------------------

# Single-pass simhash as a SQL expression over a precomputed token-hash
# array column: one aggregate carries all 64 bit-vote counters, then the
# vote signs are folded into one bigint.  (The pyspark F.shiftright wrapper
# only takes int shift amounts; the SQL form takes expressions.)
_SIMHASH_SQL = """
aggregate(
  transform(
    aggregate({hashes}, array_repeat(0, 64),
      (acc, h) -> transform(acc, (v, i) -> v + if((shiftright(h, i) & 1) = 1, 1, -1))),
    (v, i) -> if(v > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
  cast(0 as bigint), (a, x) -> a | x)
"""


def with_simhash(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """Add a 64-bit SimHash fingerprint column (pure narrow expression).

    Zero-shuffle variant — right when simhash is one feature among many on
    a row that stays put.  For bulk fingerprinting prefer
    :func:`simhash_table` (explode + combinable aggregation), which avoids
    per-row 64-slot array churn in the interpreted HOF path.
    """
    th = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    return (
        df.withColumn("_token_hashes", th)
        .withColumn(out_col, F.expr(_SIMHASH_SQL.format(hashes="_token_hashes")))
        .drop("_token_hashes")
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, simhash) via explode → 64 map-side-combinable bit-vote sums.

    One shuffle carrying 64 ints per document; the token hash is computed
    exactly once per token (generator output), unlike the nested-HOF
    per-row form which Catalyst re-inlines.
    """
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    voted = exploded.groupBy("doc").agg(*votes)
    sim = F.lit(0).cast("long")
    for i in range(64):
        # shiftleft wraps bitwise (bit 63 would overflow an int64 literal)
        bit = F.shiftleft(F.lit(1).cast("long"), i)
        sim = sim.bitwiseOR(F.when(F.col(f"b{i}") > 0, bit).otherwise(F.lit(0).cast("long")))
    return voted.select("doc", sim.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming (< 4).

    Pigeonhole blocking: split the 64-bit fingerprint into 4 chunks of 16
    bits; hamming ≤ 3 guarantees at least one identical chunk, so the
    candidate join is 4 equi-joins on 16-bit chunk values (expressed as
    one join on the exploded chunk index+value), then verified exactly
    with bit_count(xor).  Returns (id_a, id_b, hamming).
    """
    if max_hamming > 3:
        raise ValueError("chunked blocking with 4 chunks guarantees recall only for hamming<=3")
    hashed = simhash_table(df, id_col, text_col)
    width, mask = 16, (1 << 16) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit(mask)).alias("cv"),
            )
            for i in range(4)
        ]
    )
    tagged = hashed.select("doc", "simhash", F.explode(chunks).alias("c")).select(
        "doc", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    sizes = tagged.groupBy("ci", "cv").agg(F.count(F.lit(1)).alias("bsize"))
    bounded = tagged.join(
        sizes.filter((F.col("bsize") >= 2) & (F.col("bsize") <= max_bucket_size)), ["ci", "cv"]
    )
    a = bounded.select("ci", "cv", F.col("doc").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = bounded.select("ci", "cv", F.col("doc").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# n-gram Jaccard with deterministic prefix blocking
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.3,
    block_prefix_tokens: int = 4,
) -> DataFrame:
    """Word-level Jaccard over distinct tokens, blocked by token prefix.

    Blocking key = first ``block_prefix_tokens`` normalized tokens; only
    docs sharing the prefix are compared (SQL-expressible, so this one is
    oracle-checkable, unlike the hash-based candidates).  Returns
    (id_a, id_b, jaccard) with jaccard ≥ threshold.
    """
    toks = tokens(text_col)
    prepared = df.select(
        F.col(id_col).alias("doc"),
        F.concat_ws(" ", F.slice(toks, 1, block_prefix_tokens)).alias("block"),
        F.array_distinct(toks).alias("tset"),
    )
    a = prepared.select("block", F.col("doc").alias("id_a"), F.col("tset").alias("set_a"))
    b = prepared.select("block", F.col("doc").alias("id_b"), F.col("tset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# embedding near-dedup (random-hyperplane LSH → cosine verify)
# --------------------------------------------------------------------------

def _hyperplane_sign_bit(vec: Column, plane: int, dim: int) -> Column:
    """Sign bit of <vec, h_plane> for a deterministic pseudo-random ±1
    hyperplane: component j of h_plane = ±1 from xxhash64(plane, j).

    The per-component signs come from a hash, not a stored matrix, so the
    operator ships no side data and stays a pure expression.
    """
    signed = F.zip_with(
        vec,
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.when(
                F.xxhash64(F.lit(plane), j).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        ),
        lambda x, s: x * s,
    )
    d = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
    return F.when(d > 0, F.lit(1)).otherwise(F.lit(0))


def _lsh_bucket(vec: Column, num_planes: int, dim: int) -> Column:
    """The ``num_planes``-bit random-hyperplane signature of ``vec`` as a
    long bucket id (plane 0 is the most significant bit)."""
    b = F.lit(0).cast("long")
    for p in range(num_planes):
        b = F.shiftleft(b, 1).bitwiseOR(_hyperplane_sign_bit(vec, p, dim).cast("long"))
    return b


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-duplicate embedding pairs: cosine ≥ threshold.

    Random-hyperplane LSH: the ``num_planes`` sign bits form one bucket id
    (P[same bucket] = (1 - θ/π)^planes, high for near-parallel vectors);
    in-bucket pairs are verified with exact cosine.  Returns
    (id_a, id_b, cosine).  Recall is probabilistic — raise recall by
    running with several plane seeds and unioning, precision is exact.
    """
    v = to_double_array(vec_col)
    bucket = _lsh_bucket(v, num_planes, dim)
    # shuffle only (doc, bucket) — 16 B/row; vectors are re-joined by id to
    # verify.  The bucket size is a window count over the bucket Exchange,
    # which both sides of the bucket self-join reuse.
    bounded = (
        df.select(F.col(id_col).alias("doc"), bucket.alias("bucket"))
        .withColumn("bsize", F.count(F.lit(1)).over(Window.partitionBy("bucket")))
        .filter((F.col("bsize") >= 2) & (F.col("bsize") <= max_bucket_size))
    )
    a = bounded.select("bucket", F.col("doc").alias("id_a"))
    b = bounded.select("bucket", F.col("doc").alias("id_b"))
    cand = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    vecs = df.select(F.col(id_col).alias("vid"), v.alias("vec"))
    pairs = (
        cand.join(vecs.withColumnRenamed("vid", "id_a").withColumnRenamed("vec", "vec_a"), "id_a")
        .join(vecs.withColumnRenamed("vid", "id_b").withColumnRenamed("vec", "vec_b"), "id_b")
    )
    cos = cosine_similarity(F.col("vec_a"), F.col("vec_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


# --------------------------------------------------------------------------
# semantic dedup (k-means cell blocking → in-cell cosine, SemDeDup-style)
# --------------------------------------------------------------------------

def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    num_cells: int = 16,
    max_cell_size: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): block by nearest k-means cell, then drop every
    document with an in-cell neighbor at cosine ≥ ``threshold``, keeping
    the lowest id of each near-dup neighborhood.

    Shape at corpus scale: assignment is a narrow pass (broadcast
    centroids — expression argmax for small K, Arrow matmul above, see
    similarity.assign_ivf_cells); verification groups by cell id and runs
    ONE Arrow-batched matmul per cell (applyInPandas — measured ~20x over
    the per-pair expression self-join: higher-order array lambdas
    evaluate interpreted, a cell×cell numpy product is vectorized).
    Cells above ``max_cell_size`` are excluded the same way the LSH
    dedups bound hot buckets, which also bounds the O(c²) in-cell
    similarity matrix (4096² doubles = 128 MB per task ceiling; at
    100 TB pick K ≈ corpus/expected-cell-size so cells stay small — the
    paper's own K scales with N).  Nothing is all-pairs.
    The cell size is a window count on the hashpartitioning(cell)
    Exchange the verify reads (one shuffle), filtered in the JVM before
    Python sees a row; nothing is persisted.

    Returns the SURVIVORS: the input rows minus dropped near-duplicates,
    plus a ``cell`` column (useful for writing cell-partitioned output).
    Deterministic: the centroids are similarity.seed_centroids, and the
    cosine is rounded to similarity.ROUND_TO digits before the argmax and
    the threshold comparison so the assignment and the keep/drop decision
    are stable across engines (last-ULP accumulation differences can't
    flip them).
    """
    from remote_shuffle_spark.operators.similarity import (
        ROUND_TO,
        assign_ivf_cells,
        seed_centroids,
    )

    cents = seed_centroids(df, id_col, vec_col, k=num_cells)
    assigned = assign_ivf_cells(df, id_col, vec_col, cents, round_to=ROUND_TO)
    bounded = (
        assigned.withColumn("csize", F.count(F.lit(1)).over(Window.partitionBy("cell")))
        .filter((F.col("csize") >= 2) & (F.col("csize") <= max_cell_size))
        .select(F.col(id_col).alias("doc"), "cell", to_double_array(vec_col).alias("vec"))
    )

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _dropped_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        # drop policy: a doc is dropped iff it has at least one LOWER-id
        # neighbor at cosine ≥ threshold (one pass, no iteration).  This
        # keeps a component's minimum always, and also any member whose
        # neighbors all have higher ids — transitive-closure collapse is
        # the job of graph.dedup_groups when single-representative
        # semantics are needed.
        ids = pdf["doc"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        # single C-level conversion (13x over a per-row asarray loop —
        # the semantic-dedup cells are bounded but numerous)
        V = np.array(pdf["vec"].tolist(), dtype=np.float64)[order]
        norms = np.linalg.norm(V, axis=1)
        V = V / np.where(norms > 0.0, norms, 1.0)[:, None]
        sims = np.round(V @ V.T, ROUND_TO)
        hit = np.triu(sims >= thr, k=1)  # [i, j]: i < j by id and near-dup
        return pd.DataFrame({"doc": ids[hit.any(axis=0)]})

    dropped = (
        bounded.groupBy("cell")
        .applyInPandas(_dropped_in_cell, schema=f"doc {dict(df.dtypes)[id_col]}")
        .withColumnRenamed("doc", id_col)
    )
    return assigned.join(dropped, id_col, "left_anti")


def segment_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_len: int = 20,
) -> DataFrame:
    """Sub-document (paragraph-granularity) exact dedup, Falcon/RefinedWeb
    style: split each document into consecutive ``seg_len``-token segments
    and keep only each segment's FIRST occurrence corpus-wide (global
    order = (doc_id, seg_idx)); later repeats are removed from their
    documents rather than dropping the whole document.  The fixture corpus
    has no newline structure, so fixed token windows stand in for
    paragraphs — on real data pass the paragraph splitter's output through
    the same keep-first shuffle.

    Returns per-document (id, n_segments, kept_segments).

    Scale: one shuffle keyed by xxhash64(segment) carrying only
    (hash, id, seg_idx) — 24 bytes/segment, never the text; the keeper per
    segment is a min(struct) aggregate (map-side combinable), then one
    hash-keyed join back.  No windows over the corpus, no all-pairs.
    """
    from remote_shuffle_spark.functions.hashing import tokens

    L = int(seg_len)
    toks = df.select(
        F.col(id_col).alias("_sd_id"), tokens(text_col).alias("_sd_toks")
    )
    segs = toks.select(
        "_sd_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_sd_toks") / F.lit(L)).cast("int") - 1,
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_sd_toks"), i * L + 1, L)
                ),
            )
        ).alias("seg_idx", "segment"),
    ).select(
        "_sd_id", "seg_idx", F.xxhash64("segment").alias("seg_hash")
    )
    keepers = segs.groupBy("seg_hash").agg(
        F.min(F.struct("_sd_id", "seg_idx")).alias("first")
    ).hint("shuffle_merge")  # corpus-sized: see exact_substring_dedup_stats
    marked = segs.join(keepers, "seg_hash").select(
        "_sd_id",
        (
            (F.col("first._sd_id") == F.col("_sd_id"))
            & (F.col("first.seg_idx") == F.col("seg_idx"))
        ).cast("long").alias("kept"),
    )
    return marked.groupBy("_sd_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("kept").alias("kept_segments"),
    ).select(F.col("_sd_id").alias(id_col), "n_segments", "kept_segments")


def exact_substring_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 50,
) -> DataFrame:
    """Boundary-independent exact-substring dedup at bounded granularity
    (the ExactSubstr tier of the standard LLM-corpus dedup ladder, between
    whole-paragraph keep-first and near-dup LSH): every ``window_tokens``-
    token sliding window (stride 1) of every document is hashed, each
    distinct window's corpus-wide FIRST occurrence (global order =
    (doc_id, pos)) is the keeper, and every later occurrence marks its
    covered token span as duplicated.  Unlike :func:`segment_dedup_stats`
    this catches copied runs that straddle segment boundaries — the public
    ExactSubstr formulation (sorted duplicate runs, no suffix array needed
    for fixed granularity).

    Returns per-document
    ``(id, n_tokens, n_windows, dup_windows, dup_tokens)`` where
    ``dup_tokens`` is the size of the UNION of the duplicate windows'
    ``[pos, pos+k-1]`` spans (adjacent/overlapping runs merged), i.e. how
    many tokens an exact-substring scrubber would remove.

    Scale: the ONE corpus-wide shuffle is keyed by xxhash64(window) and
    carries only (hash, id, pos) — 24 bytes per window, never the text;
    keep-first is a map-side-combinable min(struct) aggregate.  Span
    merging is a lead() window partitioned BY DOCUMENT (per-doc state
    only, no corpus-wide ordering), exploiting that fixed-length intervals
    sorted by start merge in one linear pass:
    covered = sum(min(k, next_pos - pos)) + k for the last run member.
    No all-pairs, no driver-side data path.
    """
    from pyspark.sql import Window

    k = int(window_tokens)
    toks = df.select(
        F.col(id_col).alias("_es_id"), tokens(text_col).alias("_es_toks")
    )
    base = toks.select(
        "_es_id",
        F.size("_es_toks").cast("long").alias("n_tokens"),
        F.greatest(
            F.lit(0), F.size("_es_toks") - F.lit(k) + F.lit(1)
        ).cast("long").alias("n_windows"),
    )
    wins = (
        toks.filter(F.size("_es_toks") >= k)
        .select(
            "_es_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_es_toks") - F.lit(k)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("_es_toks"), i + 1, k))
                    ),
                )
            ).alias("pos", "win_hash"),
        )
    )
    # shuffle_merge hints on both corpus-sized joins: keepers has ~one
    # row per DISTINCT window (corpus-sized), but Catalyst's STATIC size
    # estimate under a Generate is optimistic enough to plan a broadcast —
    # measured driver OOM at 2M docs (40M windows) on 8g, and AQE can
    # only promote SMJ->BHJ, never demote a statically-planned broadcast.
    # Sort-merge, not shuffle_hash: SMJ sorts spill, while 32 concurrent
    # per-task hash builds exhausted execution memory at the same scale
    # (measured: "Can't acquire 67108864 bytes to build hash relation").
    keepers = wins.groupBy("win_hash").agg(
        F.min(F.struct("_es_id", "pos")).alias("first")
    ).hint("shuffle_merge")
    dups = (
        wins.join(keepers, "win_hash")
        .filter(
            (F.col("first._es_id") != F.col("_es_id"))
            | (F.col("first.pos") != F.col("pos"))
        )
        .select("_es_id", "pos")
    )
    per_doc_win = Window.partitionBy("_es_id").orderBy("pos")
    covered = dups.select(
        "_es_id",
        F.least(
            F.lit(k),
            F.coalesce(
                F.lead("pos").over(per_doc_win) - F.col("pos"), F.lit(k)
            ),
        ).alias("covered"),
    )
    dup_stats = covered.groupBy("_es_id").agg(
        F.count(F.lit(1)).cast("long").alias("dup_windows"),
        F.sum("covered").cast("long").alias("dup_tokens"),
    ).hint("shuffle_merge")
    return (
        base.join(dup_stats, "_es_id", "left")
        .select(
            F.col("_es_id").alias(id_col),
            "n_tokens",
            "n_windows",
            F.coalesce("dup_windows", F.lit(0)).alias("dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        )
    )


def segment_dedup_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_len: int = 20,
) -> DataFrame:
    """The APPLY face of :func:`segment_dedup_stats`: returns each
    document with repeated segments REMOVED —
    ``(id, trimmed_text, n_segments, kept_segments)`` — for feeding the
    next tier of the dedup ladder (trimmed_text is '' when every segment
    was a repeat).

    Scale: the corpus-wide shuffle still carries only
    (seg_hash, id, seg_idx) — the keep-first decision is identical to the
    stats variant; the kept segment INDICES (ints) are then aggregated
    per doc and joined back to the tokenized documents, where the trimmed
    text is rebuilt NARROWLY by re-slicing the token array at the kept
    indices.  Document text therefore crosses exactly one exchange (the
    id-keyed join producing the output), never the hash-keyed one.
    """
    L = int(seg_len)
    toks = df.select(
        F.col(id_col).alias("_sa_id"), tokens(text_col).alias("_sa_toks")
    )
    segs = toks.select(
        "_sa_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_sa_toks") / F.lit(L)).cast("int") - 1,
                ),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("_sa_toks"), i * L + 1, L))
                ),
            )
        ).alias("seg_idx", "seg_hash"),
    )
    # same static-estimate broadcast hazard as exact_substring_dedup_stats:
    # keepers/kept_idx are corpus-sized aggregates under a Generate
    keepers = segs.groupBy("seg_hash").agg(
        F.min(F.struct("_sa_id", "seg_idx")).alias("first")
    ).hint("shuffle_merge")
    kept_idx = (
        segs.join(keepers, "seg_hash")
        .filter(
            (F.col("first._sa_id") == F.col("_sa_id"))
            & (F.col("first.seg_idx") == F.col("seg_idx"))
        )
        .groupBy("_sa_id")
        .agg(
            F.sort_array(F.collect_list("seg_idx")).alias("_sa_keep"),
        )
        .hint("shuffle_merge")
    )
    n_seg = F.ceil(F.size("_sa_toks") / F.lit(L)).cast("long")
    return (
        toks.join(kept_idx, "_sa_id", "left")
        .select(
            F.col("_sa_id").alias(id_col),
            F.concat_ws(
                " ",
                F.flatten(
                    F.transform(
                        F.coalesce("_sa_keep", F.array()),
                        lambda i: F.slice(F.col("_sa_toks"), i * L + 1, L),
                    )
                ),
            ).alias("trimmed_text"),
            n_seg.alias("n_segments"),
            F.size(F.coalesce("_sa_keep", F.array())).cast("long").alias(
                "kept_segments"
            ),
        )
    )


def exact_substring_dedup_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 20,
) -> DataFrame:
    """APPLY face of :func:`exact_substring_dedup_stats`: returns each
    document with the union of its duplicate-window token spans REMOVED —
    ``(id, trimmed_text, n_tokens, dup_windows, dup_tokens)`` — so the
    next rung of the dedup ladder (near-dup LSH) consumes
    substring-scrubbed text, exactly as the public ExactSubstr pipelines
    do between the exact tiers and the MinHash pass.

    Removal semantics match the stats variant bit-for-bit: duplicate
    windows are later-than-first occurrences in (doc_id, pos) order; the
    removed positions are the union of their ``[pos, pos+k)`` spans
    (disjoint runs via the same lead() pass, so ``size(removed) ==
    dup_tokens``).

    Scale: identical shuffle discipline to the stats face — the ONE
    corpus-wide exchange is keyed by xxhash64(window) and carries
    (hash, id, pos) only; removed-position arrays ride the per-doc
    id-keyed join (ints, no text), and the text rebuild is a narrow
    transform-with-index over the already-materialized token array.  The
    per-token ``array_contains`` probe is O(|removed|) — bounded by the
    document's own length, local to the row, never a shuffle concern.
    Both corpus-sized joins keep the shuffle_merge pin (static-estimate
    broadcast hazard under Generate, see exact_substring_dedup_stats).
    """
    from pyspark.sql import Window

    k = int(window_tokens)
    toks = df.select(
        F.col(id_col).alias("_ea_id"), tokens(text_col).alias("_ea_toks")
    )
    wins = (
        toks.filter(F.size("_ea_toks") >= k)
        .select(
            "_ea_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_ea_toks") - F.lit(k)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("_ea_toks"), i + 1, k))
                    ),
                )
            ).alias("pos", "win_hash"),
        )
    )
    keepers = wins.groupBy("win_hash").agg(
        F.min(F.struct("_ea_id", "pos")).alias("first")
    ).hint("shuffle_merge")
    dups = (
        wins.join(keepers, "win_hash")
        .filter(
            (F.col("first._ea_id") != F.col("_ea_id"))
            | (F.col("first.pos") != F.col("pos"))
        )
        .select("_ea_id", "pos")
    )
    per_doc = Window.partitionBy("_ea_id").orderBy("pos")
    runs = dups.select(
        "_ea_id",
        "pos",
        F.least(
            F.lit(k),
            F.coalesce(F.lead("pos").over(per_doc) - F.col("pos"), F.lit(k)),
        ).alias("_ea_c"),
    )
    rm_agg = runs.groupBy("_ea_id").agg(
        F.count(F.lit(1)).cast("long").alias("dup_windows"),
        F.sort_array(
            F.flatten(
                F.collect_list(
                    F.sequence(F.col("pos"), F.col("pos") + F.col("_ea_c") - 1)
                )
            )
        ).alias("_ea_rm"),
    ).hint("shuffle_merge")
    joined = toks.join(rm_agg, "_ea_id", "left").select(
        "_ea_id",
        "_ea_toks",
        F.coalesce("_ea_rm", F.array().cast("array<int>")).alias("_ea_rm"),
        F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
    )
    kept = F.filter(
        F.transform(
            F.col("_ea_toks"),
            lambda t, i: F.when(~F.array_contains(F.col("_ea_rm"), i), t),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        F.col("_ea_id").alias(id_col),
        F.concat_ws(" ", kept).alias("trimmed_text"),
        F.size("_ea_toks").cast("long").alias("n_tokens"),
        "dup_windows",
        F.size("_ea_rm").cast("long").alias("dup_tokens"),
    )


def _md5_signatures(
    tk: DataFrame,
    *,
    shingle_len: int,
    num_hashes: int,
) -> DataFrame:
    """(_mm_id, _h0.._h{k-1}) md5-MinHash SIGNATURES — the per-doc min of
    ``md5(seed || '|' || shingle)`` over the distinct shingle set, one
    column per seed (engine-identical selection, the
    minhash_components_md5 contract).  Shared by the banding pipelines
    and the estimator-accuracy face (ext_minhash_estimate): the
    fraction of agreeing components is the classic unbiased Jaccard
    estimator these signatures exist for.  One map-side-combinable
    groupBy shuffle."""
    sh = tk.select(
        "_mm_id",
        F.explode(
            F.array_distinct(
                word_shingles_from_tokens(F.col("_mm_tk"), shingle_len)
            )
        ).alias("_mm_sh"),
    )
    return sh.groupBy("_mm_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws("|", F.lit(str(i)), F.col("_mm_sh")))
            ).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    )


def _md5_band_tags(
    tk: DataFrame,
    *,
    shingle_len: int,
    num_hashes: int,
    num_bands: int,
) -> DataFrame:
    """(_mm_id, _mm_bucket) band-key tags of the md5-MinHash pipeline —
    the shared signature/banding stage of :func:`_md5_band_candidates`
    (within-corpus pairing) and :func:`minhash_band_index` (persisted
    index for incremental delta dedup).  ``tk`` = (_mm_id, _mm_tk),
    already length-filtered to >= ``shingle_len`` tokens.  Algebra is
    the oracle-replayable contract documented on
    :func:`minhash_components_md5`; the ONE shuffle here is the
    per-doc groupBy carrying ``num_hashes`` 32-char min-hash strings
    (map-side combinable MIN aggregates)."""
    r = num_hashes // num_bands
    sig = _md5_signatures(
        tk, shingle_len=shingle_len, num_hashes=num_hashes
    )
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"_h{b * r + j}") for j in range(r)],
            )
            for b in range(num_bands)
        ]
    )
    return sig.select("_mm_id", F.explode(bands).alias("_mm_bucket"))


def _md5_band_candidates(
    tk: DataFrame,
    *,
    shingle_len: int,
    num_hashes: int,
    num_bands: int,
    max_bucket_size: int,
) -> DataFrame:
    """Pre-checkpoint candidate pipeline of :func:`minhash_components_md5`
    (``tk`` = (_mm_id, _mm_tk), already length-filtered) — factored out so
    the no-BroadcastHashJoin plan pin (tests/test_plans.py) targets the
    REAL operator code: the eager checkpoint in the caller would hide
    this subplan from any post-hoc plan inspection, and a hand-copied
    test pipeline would keep passing after someone removed the hints."""
    tagged = _md5_band_tags(
        tk,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        num_bands=num_bands,
    )
    sizes = tagged.groupBy("_mm_bucket").agg(F.count(F.lit(1)).alias("_bs"))
    # shuffle_merge pins: same static-estimate BHJ trap as
    # minhash_candidates (see the comment there) — both the qualifying-
    # bucket join and the pair self-join scale with near-dup density.
    bounded = tagged.join(
        sizes.filter(
            (F.col("_bs") >= 2) & (F.col("_bs") <= max_bucket_size)
        ).hint("shuffle_merge"),
        "_mm_bucket",
    ).select("_mm_bucket", "_mm_id")
    return (
        bounded.withColumnRenamed("_mm_id", "id_a")
        .join(
            bounded.withColumnRenamed("_mm_id", "id_b").hint("shuffle_merge"),
            "_mm_bucket",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_components_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """ORACLE-REPLAYABLE MinHash-LSH near-dup groups: ``(id, root)`` —
    one row per document that belongs to a verified near-dup component,
    ``root`` = the component's smallest id (the keeper; removal set =
    rows with ``id != root``).

    This is the md5 twin of :func:`minhash_candidates` +
    :func:`connected_components`: every hash in the pipeline is
    ``md5(seed || '|' || shingle)`` instead of seeded xxhash64, because
    md5 exists in BOTH Spark and DuckDB and equal-length lowercase-hex
    strings compare lexicographically == numerically — so the per-seed
    MIN selection, the band keys, the candidate set, and therefore the
    final components are bit-identical across engines and the whole
    near-dup tier becomes exactly SQL-oracle-checkable (the same
    engine-identical-selection trick as the winnowing operator).  The
    xxhash64 variant remains the production-speed path; this one is the
    verification face (md5 costs ~2x, same asymptotics, same shuffles).

    Algebra (mirror EXACTLY in any oracle):
      - docs with < ``shingle_len`` tokens are excluded (no shingles);
      - shingle set = DISTINCT ``shingle_len``-grams joined by ' ';
      - signature_i = MIN(md5(i || '|' || shingle)), i < num_hashes;
      - band key b   = b || '|' || sig[b*r] .. '|' .. sig[b*r + r - 1],
        r = num_hashes // num_bands; buckets with 2..max_bucket_size
        members yield candidate pairs (skew guard identical to the
        xxhash variant — oversized buckets are degenerate text, dropped);
      - verify: exact Jaccard on the distinct shingle sets at threshold
        1/2 via the INTEGER comparison 2*|A∩B| >= |A∪B| (no float);
      - components over verified pairs (iterative min-label CC), root =
        min id.

    Scale shape: signatures are ``num_hashes`` 32-char strings per doc
    reaching the exchange map-side-combined; the pair join fans out only
    within capped buckets; the verify shingle pass runs on the candidate
    SUBSET (semi-join), not the corpus; CC state is one (vertex, label)
    row per candidate vertex.
    """
    from remote_shuffle_spark.operators.graph import connected_components

    n = int(shingle_len)
    if (num_hashes // num_bands) * num_bands != num_hashes:
        raise ValueError("num_bands must divide num_hashes")
    tk = df.select(
        F.col(id_col).alias("_mm_id"), tokens(text_col).alias("_mm_tk")
    ).filter(F.size("_mm_tk") >= n)
    cands = _md5_band_candidates(
        tk,
        shingle_len=n,
        num_hashes=num_hashes,
        num_bands=num_bands,
        max_bucket_size=max_bucket_size,
    ).localCheckpoint(eager=True)  # small (id pairs); feeds semi-join + verify
    # plain union — semi-join right sides tolerate duplicate keys (r15)
    cand_ids = cands.select(F.col("id_a").alias("_mm_id")).union(
        cands.select(F.col("id_b"))
    )
    ss = (
        tk.join(cand_ids, "_mm_id", "left_semi")
        .select(
            "_mm_id",
            F.array_distinct(
                word_shingles_from_tokens(F.col("_mm_tk"), n)
            ).alias("_mm_set"),
        )
    )
    pairs = (
        cands.join(ss.withColumnRenamed("_mm_id", "id_a"), "id_a")
        .withColumnRenamed("_mm_set", "_set_a")
        .join(ss.withColumnRenamed("_mm_id", "id_b"), "id_b")
        .withColumnRenamed("_mm_set", "_set_b")
    )
    inter = F.size(F.array_intersect("_set_a", "_set_b"))
    union = F.size(F.array_union("_set_a", "_set_b"))
    verified = pairs.filter((F.lit(2) * inter) >= union).select("id_a", "id_b")
    return connected_components(verified).select(
        F.col("vertex").alias(id_col), F.col("component").alias("root")
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup dedup against a persisted corpus band index
# --------------------------------------------------------------------------

def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The corpus-side MinHash band INDEX: one ``(bkey, id)`` row per
    (document, band), md5 pipeline (oracle-replayable — the algebra of
    :func:`minhash_components_md5`), with degenerate buckets (more than
    ``max_bucket_size`` corpus members — boilerplate text) dropped at
    BUILD time so no future delta ever fans out against them.  Note the
    cap differs from the self-join pipelines' ``2..max``: a corpus
    bucket of size 1 stays — it cannot pair within the corpus, but an
    arriving delta doc CAN land in it.

    This is the engine-side materialized-state analog of the
    reference's persisted-and-reused map outputs
    (RH/.../RemoteShuffleBlockResolver.scala:133-197: shuffle state
    written once, consumed by later stages/attempts without
    recomputation): build the index once per corpus snapshot, then
    every ingest dedups its delta against it at cost proportional to
    the DELTA (:func:`incremental_minhash_dedup`).  Persist with
    :func:`write_minhash_band_index`.
    """
    tk = df.select(
        F.col(id_col).alias("_mm_id"), tokens(text_col).alias("_mm_tk")
    ).filter(F.size("_mm_tk") >= shingle_len)
    tagged = _md5_band_tags(
        tk,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        num_bands=num_bands,
    )
    sizes = tagged.groupBy("_mm_bucket").agg(F.count(F.lit(1)).alias("_bs"))
    # shuffle_merge: qualifying-bucket cardinality scales with the corpus
    # (the minhash_candidates static-estimate trap; see comment there)
    return (
        tagged.join(
            sizes.filter(F.col("_bs") <= max_bucket_size).hint("shuffle_merge"),
            "_mm_bucket",
        )
        .select(F.col("_mm_bucket").alias("bkey"), F.col("_mm_id").alias("id"))
    )


def write_minhash_band_index(index: DataFrame, path: str, *, num_files: int = 16) -> None:
    """Persist a band index SORTED by ``bkey`` (range partition + in-file
    sort, recorded in the index manifest so every refresh appends the same
    way), so every parquet file/row group carries a tight bkey min-max
    and a small delta's key-pushdown probe skips most of the index on
    footer statistics alone (the z-order file-skipping mechanism, one
    dimension).  Lake-scale deployments with huge deltas should ALSO
    bucket it by bkey (plans.shuffle_policy.write_bucketed) so the
    delta join runs zero-exchange on the corpus side; the sorted layout
    here is what makes the small-delta fast path
    (``pushdown_keys_limit``) proportional to the delta, not the
    corpus."""
    write_index(index, path, layout=by_range("bkey", num_files))


def corpus_text_hashes(
    df: DataFrame, text_col: str, *, distinct: bool = True
) -> DataFrame:
    """The corpus's normalized-text xxhash64 set as a single ``_h``
    bigint column — the exact-tier key set of
    :func:`incremental_minhash_dedup`, factored out so multi-generation
    ingest loops build it ONCE from the base corpus and extend it per
    generation with a PLAIN ``hashes.union(corpus_text_hashes(new_docs,
    ..., distinct=False))`` instead of re-hashing the whole corpus
    every time.  No ``.distinct()`` anywhere on the extension path: the
    set only ever feeds the exact tier's left-anti join, where
    duplicate right-side keys cannot change the result — re-deduping
    per generation would put an exchange right back (O(corpus) for the
    union, O(delta) for the extension hashes).  The default
    ``distinct=True`` is for the BASE set a caller checkpoints and
    reuses across generations, where deduping once keeps the persisted
    blocks minimal."""
    out = df.select(F.xxhash64(normalized_text(text_col)).alias("_h"))
    return out.distinct() if distinct else out


def incremental_minhash_dedup(
    delta_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    band_index: DataFrame | None = None,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
    pushdown_keys_limit: int | None = None,
    materialize: bool = True,
    corpus_hashes: DataFrame | None = None,
) -> DataFrame:
    """Incremental EXACT + NEAR-dup dedup of an arriving delta against an
    existing corpus — the production ingest pattern (dedup the delta
    against the lake WITHOUT re-deduping the lake): returns one row per
    delta document, ``(id, status)`` with status in
    ``{'exact_dup', 'near_dup', 'new'}``.

    Tiers (each consuming the previous tier's survivors):
      1. exact — normalized-text 64-bit hash anti-join against the
         corpus hash set (:func:`incremental_new_texts` algebra);
      2. near  — md5-MinHash banding of the SURVIVORS (cost ∝ delta)
         joined against the corpus band index, candidates verified by
         integer Jaccard ``2*|A∩B| >= |A∪B|`` (threshold 1/2) on exact
         distinct-shingle sets.  Corpus shingle sets are recomputed for
         the CANDIDATE ids only (semi-join — a pruned read at lake
         scale, where documents are stored keyed by id).

    ``band_index``: the persisted corpus index
    (:func:`minhash_band_index` / :func:`write_minhash_band_index`),
    read back by the caller.  None builds it inline from ``corpus_df``
    (one-shot usage; the incremental win is passing a persisted one).

    ``pushdown_keys_limit``: the SMALL-DELTA fast path — when the
    delta's distinct band-key count is within the limit, the keys are
    collected (bounded by delta_rows x num_bands, the caller's explicit
    opt-in to a delta-sized driver list) and pushed into the index scan
    as an IN filter, so a bkey-sorted index is read via row-group /
    file skipping instead of a full scan: the index READ becomes
    proportional to the delta too (measured in
    scripts/incremental_dedup_probe.py — wall stays flat at 10x
    corpus).  None (default) uses the plain join — right for large
    deltas, still shuffle-proportional to the delta when the index is
    bucketed.  Both paths compute identical results
    (tests/test_dedup.py pins it).

    Docs with fewer than ``shingle_len`` tokens cannot shingle; they
    skip tier 2 and come out 'new' unless exact dups (mirror this in
    any oracle).

    ``materialize=False`` skips the eager localCheckpoints (which
    EXECUTE their subplans immediately and so hide the band join from
    any post-hoc plan inspection) — used by the plan pins in
    tests/test_plans.py to audit the REAL pipeline; results are
    identical, production callers keep the default.

    ``corpus_hashes``: optionally the corpus's normalized-text xxhash64
    set as a single ``_h`` bigint column (:func:`corpus_text_hashes`) —
    multi-generation callers compute it ONCE from the base corpus and
    extend it per ingest with a PLAIN union of the new docs' hashes (no
    ``.distinct()``: the set is only ever the RIGHT side of a left-anti
    join, and duplicate right-side keys cannot change an anti-join's
    result — so the per-generation dedup shuffle the union used to pay
    is dropped outright), replacing the corpus-proportional re-hash
    every generation paid with a delta-proportional union.  None
    (default) derives it from ``corpus_df`` — likewise without a
    ``.distinct()``, for the same anti-join-semantics reason.
    """
    h = F.xxhash64(normalized_text(text_col))
    if corpus_hashes is None:
        corpus_hashes = corpus_df.select(h.alias("_h"))
    # exact tier: LEFT SEMI marks exact dups, survivors continue
    delta_h = delta_df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text"), h.alias("_h")
    )
    # survivors is the ONLY corpus-hash join; exact dups are derived as
    # its complement at the end (one less corpus-side branch per call)
    survivors = delta_h.join(corpus_hashes, "_h", "left_anti").select(
        "_id", "_text"
    )

    if band_index is None:
        band_index = minhash_band_index(
            corpus_df,
            id_col,
            text_col,
            shingle_len=shingle_len,
            num_hashes=num_hashes,
            num_bands=num_bands,
            max_bucket_size=max_bucket_size,
        )
    index = band_index.select(
        F.col("bkey").alias("_mm_bucket"), F.col("id").alias("_cid")
    )

    tk = survivors.select(
        F.col("_id").alias("_mm_id"), tokens("_text").alias("_mm_tk")
    ).filter(F.size("_mm_tk") >= shingle_len)
    delta_bands = _md5_band_tags(
        tk,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        num_bands=num_bands,
    )

    if pushdown_keys_limit is not None:
        # the key collection below re-reads the band frame the join also
        # needs — materialize it once (∝ delta); the join-only path reads
        # it once and skips the checkpoint job.  Lazy: the keys collect is
        # the sole first consumer, so one job computes + persists.
        if materialize:
            delta_bands = delta_bands.localCheckpoint(eager=False)
        keys = [
            r[0]
            for r in delta_bands.select("_mm_bucket")
            .distinct()
            .limit(pushdown_keys_limit + 1)
            .collect()
        ]
        if len(keys) <= pushdown_keys_limit:
            index = index.filter(F.col("_mm_bucket").isin(keys))

    cands = (
        delta_bands.join(index.hint("shuffle_merge"), "_mm_bucket")
        .select(F.col("_mm_id").alias("_did"), "_cid")
        .distinct()
    )
    if materialize:
        cands = cands.localCheckpoint(eager=True)  # id pairs; feeds two shingle joins

    def _sets(frame: DataFrame, idc: str, textc: str) -> DataFrame:
        t = frame.select(
            F.col(idc).alias("_sid"), tokens(textc).alias("_stk")
        ).filter(F.size("_stk") >= shingle_len)
        return t.select(
            "_sid",
            F.array_distinct(
                word_shingles_from_tokens(F.col("_stk"), shingle_len)
            ).alias("_sset"),
        )

    # no .distinct() on either candidate-id projection: they only feed
    # semi joins, whose right sides tolerate duplicate keys (r15)
    dsets = _sets(
        survivors.join(
            cands.select(F.col("_did").alias("_id")), "_id", "left_semi"
        ),
        "_id",
        "_text",
    )
    csets = _sets(
        corpus_df.join(
            cands.select(F.col("_cid").alias(id_col)),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
    )
    pairs = (
        cands.join(dsets.withColumnRenamed("_sid", "_did"), "_did")
        .withColumnRenamed("_sset", "_set_d")
        .join(csets.withColumnRenamed("_sid", "_cid"), "_cid")
        .withColumnRenamed("_sset", "_set_c")
    )
    inter = F.size(F.array_intersect("_set_d", "_set_c"))
    union = F.size(F.array_union("_set_d", "_set_c"))
    near_ids = (
        pairs.filter((F.lit(2) * inter) >= union).select("_did").distinct()
    )

    all_ids = delta_h.select("_id")
    return (
        all_ids.join(
            survivors.select("_id").withColumn("_sv", F.lit(1)), "_id", "left"
        )
        .join(
            near_ids.withColumnRenamed("_did", "_id").withColumn(
                "_nr", F.lit(1)
            ),
            "_id",
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_sv").isNull(), F.lit("exact_dup"))
            .when(F.col("_nr") == 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def minhash_band_index_refresh(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 8,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> None:
    """Fold freshly-ingested (already-deduped) documents INTO a persisted
    :func:`minhash_band_index` — the step that closes the incremental
    ingest loop: after :func:`incremental_minhash_dedup` passes a
    delta's 'new' docs, their band rows are APPENDED so the NEXT delta
    dedups against corpus + every prior generation.

    Cap discipline on append: a new row lands only if its bucket's
    post-append size (existing index rows + new rows for that key)
    stays within ``max_bucket_size`` — so the <=cap invariant every
    probe relies on survives any number of refresh generations.  The
    existing-count lookup is a semi-join of the index restricted to the
    NEW keys (delta-proportional, like the probe itself).  Note the
    one asymmetry: a bucket the original build dropped as degenerate
    has zero index rows, so new arrivals can repopulate it up to the
    cap — compaction (a full rebuild) re-evaluates every bucket against
    the whole corpus; schedule it like any index maintenance.

    Appended files follow the index's recorded layout (bkey-sorted
    ranges), so the small-delta pushdown path keeps skipping row groups
    across generations."""
    tk = new_df.select(
        F.col(id_col).alias("_mm_id"), tokens(text_col).alias("_mm_tk")
    ).filter(F.size("_mm_tk") >= shingle_len)
    new_tags = _md5_band_tags(
        tk,
        shingle_len=shingle_len,
        num_hashes=num_hashes,
        num_bands=num_bands,
    ).localCheckpoint(eager=True)  # ∝ delta; read three times below
    new_sizes = new_tags.groupBy("_mm_bucket").agg(
        F.count(F.lit(1)).alias("_new_n")
    )
    existing = read_index(spark, path)
    existing_sizes = (
        existing.join(
            new_sizes.select(F.col("_mm_bucket").alias("bkey")),
            "bkey",
            "left_semi",
        )
        .groupBy("bkey")
        .agg(F.count(F.lit(1)).alias("_old_n"))
    )
    kept_keys = (
        new_sizes.join(
            existing_sizes.withColumnRenamed("bkey", "_mm_bucket"),
            "_mm_bucket",
            "left",
        )
        .filter(
            F.col("_new_n") + F.coalesce(F.col("_old_n"), F.lit(0))
            <= max_bucket_size
        )
        .select("_mm_bucket")
    )
    kept = new_tags.join(kept_keys, "_mm_bucket")
    append_index(spark, path, kept.select(F.col("_mm_bucket").alias("bkey"), F.col("_mm_id").alias("id")))
