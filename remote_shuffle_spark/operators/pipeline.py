"""Training-data pipeline utilities (EXT): deterministic splits, global
row indexing, quantile binning, vocabulary building, stratified sampling.

These are the glue operators a 100 TB training corpus pipeline needs
between dedup and export.  Design invariants:

- determinism is *data-derived*, never RNG-state-derived: splits and
  samples hash stable ids, so re-running on a grown corpus keeps every
  previously-assigned row in its split (randomSplit does not);
- nothing funnels through a single task: global row numbering uses the
  two-phase partition-offset pattern, not a one-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.local import local_frame


def deterministic_split(
    df: DataFrame,
    id_col: str,
    *,
    weights: dict[str, float],
    salt: str = "split",
    u_expr=None,
) -> DataFrame:
    """Assign a stable split label from a hash of the id (+ salt).

    ``weights`` maps label → fraction (must sum to ~1).  Unlike
    ``randomSplit`` this is a pure projection: reproducible across runs,
    sessions, and partitionings, and rows keep their split when the
    corpus grows — the property training pipelines actually need.

    ``u_expr`` optionally replaces the default salted-xxhash64 uniform
    with a caller-supplied Column in [0, 1) — used by oracle-checked
    queries to pin the variate to arithmetic a second engine can
    reproduce exactly (same escape hatch ``interleave_datasets`` has).
    The threshold comparison is unchanged, so the branch structure under
    test is identical to the production hash path.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if u_expr is not None:
        u = u_expr
    else:
        # uniform in [0,1): low 31 bits of the salted hash (always nonneg)
        u = (
            F.xxhash64(F.col(id_col), F.lit(salt)).bitwiseAND(F.lit((1 << 31) - 1))
        ) / F.lit(float(1 << 31))
    expr = None
    acc = 0.0
    labels = list(weights)
    for label in labels[:-1]:
        acc += weights[label]
        cond = u < acc
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    expr = F.lit(labels[-1]) if expr is None else expr.otherwise(labels[-1])
    return df.withColumn("split", expr)


def with_global_index(
    df: DataFrame,
    *,
    order_by: list,
    out_col: str = "row_index",
) -> DataFrame:
    """Contiguous 0-based global row index without a global sort.

    Two-phase: count rows per partition (tiny driver-side array) →
    broadcast the cumulative offsets → per-partition local index + offset.
    O(rows) work, no single-task bottleneck.

    ``order_by`` (list of columns/Column expressions that totally order
    rows WITHIN a partition — e.g. the keys of the
    repartitionByRange+sortWithinPartitions the caller just did) drives
    the local index, a per-partition ``row_number()`` window — pure JVM,
    no Python in the data path.  It is required: an unordered partition
    has no reproducible numbering.  The input is localCheckpoint'ed first
    (lazily — the count phase's collect materializes it), both so the
    count phase and the window phase see identical partitioning (range
    boundary sampling is per-execution) and so the window's hash
    exchange on the partition id reads materialized blocks.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    # lazy checkpoint: the counts collect right below is the frame's
    # sole first consumer, so it computes AND persists the frame in
    # ONE job (eager + collect paid two); the window phase then reads
    # the same persisted blocks — partitioning is pinned identically.
    part = df.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=False)
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets, running = [], 0
    for r in sorted(counts, key=lambda r: r._pid):
        offsets.append((int(r._pid), running))
        running += int(r._n)
    offsets_df = F.broadcast(local_frame(spark, offsets, "_pid int, _offset long"))
    w = W.partitionBy("_pid").orderBy(*order_by)
    return (
        part.join(offsets_df, "_pid")
        .withColumn(
            out_col, (F.row_number().over(w) - 1 + F.col("_offset")).cast("long")
        )
        .drop("_pid", "_offset")
    )


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    *,
    num_buckets: int = 10,
    relative_error: float = 0.001,
    out_col: str = "bucket",
    exact: bool = False,
) -> DataFrame:
    """Equi-depth binning: bucket i holds ~1/num_buckets of the rows.

    Cutpoints come from approxQuantile (Greenwald-Khanna, one pass,
    mergeable — the scalable choice); the bucket assignment is a pure
    projection against the broadcast cutpoints.  ``exact=True`` swaps in
    the exact interpolated ``percentile`` aggregate (linear interpolation
    at rank (n-1)·q — the same definition as DuckDB/Postgres
    quantile_cont, verified bit-identical on the fixture), for
    engine-portable cutpoints; it buffers per-partition value arrays, so
    at 100 TB stay with the sketch.
    """
    qs = [i / num_buckets for i in range(1, num_buckets)]
    if exact:
        cuts = df.agg(
            F.percentile(value_col, F.lit(qs)).alias("q")
        ).collect()[0]["q"]
    else:
        cuts = df.approxQuantile(value_col, qs, relative_error)
    # monotone assignment: count of cutpoints below the value
    b = F.lit(0)
    for c in cuts:
        b = b + F.when(F.col(value_col) > F.lit(float(c)), 1).otherwise(0)
    return df.withColumn(out_col, b.cast("int"))


def build_vocab(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency-ordered vocabulary: (token, count, token_id) with id 0 =
    most frequent; ties break lexicographically.

    One explode + one combinable count shuffle, then ranking WITHOUT a
    single-partition window (a global ``row_number()`` funnels the whole
    vocab through one task — fine for dictionary vocabs, fatal for the
    ~10^8-distinct-token vocabs web corpora produce): range-partition by
    the sort key, sort within partitions, and assign contiguous ids with
    the two-phase partition-offset pattern (:func:`with_global_index`).
    """
    from remote_shuffle_spark.functions.hashing import tokens

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    ordered = counts.repartitionByRange(
        F.col("count").desc(), F.col("token")
    ).sortWithinPartitions(F.col("count").desc(), "token")
    vocab = with_global_index(
        ordered, out_col="token_id", order_by=[F.col("count").desc(), F.col("token")]
    )
    if max_size is not None:
        vocab = vocab.filter(F.col("token_id") < max_size)
    return vocab


def encode_tokens(df: DataFrame, id_col: str, text_col: str, vocab: DataFrame) -> DataFrame:
    """Map each document to its token-id sequence using the vocab
    (broadcast for dictionary-sized vocabularies): (id, token_ids).

    Exploded join + ordered re-assembly; unknown tokens drop (add a
    sentinel row to ``vocab`` for UNK behavior)."""
    from remote_shuffle_spark.functions.hashing import tokens

    pos = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    joined = pos.join(F.broadcast(vocab.select("token", "token_id")), "token")
    return (
        joined.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "token_id"))).alias("pt"))
        .select(
            F.col(id_col),
            F.transform("pt", lambda s: s["token_id"]).alias("token_ids"),
        )
    )


def chunk_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    budget: int,
    out_col: str = "seq_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence assignment: documents are laid out in
    ``id_col`` order as one logical token stream and every ``budget``
    tokens starts a new training sequence; each document is assigned the
    sequence its first token lands in.

    This is the integer-division form (seq = start_offset DIV budget) of
    the packing used by concat-style LLM pretraining loaders.  The global
    prefix sum is two-phase — range-partition by id, per-partition window
    cumsum, plus a broadcast of per-partition totals (a few hundred longs
    on the driver) — NOT a single global window, so no one-task funnel at
    corpus scale.

    Returns the input plus ``start_offset`` and ``out_col``.

    Correctness note: both phases must see the *same* physical
    partitioning.  ``repartitionByRange`` samples its boundaries per
    execution (reservoir seeded off the RDD id), so running the subtree
    once for the totals job and again for the window pass could assign
    rows to different ``_pid``s whenever a partition holds more rows
    than the sampler reads — silently corrupting ``start_offset`` at
    corpus scale.  The ``_pid``-stamped frame is therefore materialized
    ONCE with an eager ``localCheckpoint`` and both phases read those
    blocks (also saves re-deriving ``weight_col``, measured 2x
    tokenization cost at 200k docs, scripts/scale_probe.py).  Blocks are
    freed when the frame is garbage collected.  On a real cluster where
    executors can die, swap in plans.shuffle_policy.checkpoint_to for a
    durable materialization — localCheckpoint truncates lineage, so a
    lost block fails the job instead of silently recomputing.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    part = (
        df.repartitionByRange(n_parts, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the per_part collect computes + persists in one job (see
        # with_global_index); the window phase reads the pinned blocks
        .localCheckpoint(eager=False)
    )
    per_part = part.groupBy("_pid").agg(F.sum(F.col(weight_col)).alias("_w")).collect()
    offsets, running = {}, 0
    for r in sorted(per_part, key=lambda r: r._pid):
        offsets[r._pid] = running
        running += r._w
    offsets_df = F.broadcast(
        local_frame(
            spark,
            [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
        )
    )
    w = W.partitionBy("_pid").orderBy(id_col)
    cum_prev = F.sum(F.col(weight_col)).over(w) - F.col(weight_col) + F.col("_offset")
    return (
        part.join(offsets_df, "_pid")
        .withColumn("start_offset", cum_prev.cast("long"))
        .withColumn(out_col, F.expr(f"start_offset DIV {int(budget)}"))
        .drop("_pid", "_offset")
    )


def running_total(
    df: DataFrame,
    weight_col: str,
    order_by: list,
    *,
    partition_by: list[str] | None = None,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running total of ``weight_col`` in ``order_by``
    order — the primitive behind budget cuts ("take documents by quality
    until the token budget is spent") and exact CDF positions.

    ``order_by`` is a list of Column expressions (sort order allowed,
    e.g. ``F.col("score").desc()``) that must totally order the frame
    (within each group when ``partition_by`` is given); pass a unique
    tiebreaker (id) last or equal rows get an arbitrary relative cum.

    ``partition_by`` (list of column NAMES) restarts the total per
    group — per-language / per-source quota cuts.  The range exchange
    then keys on (groups, order keys) so each group occupies a
    contiguous partition run, and the broadcast offset table grows to
    one row per (group, partition) — driver-bounded by
    |groups| x partitions, meant for low-cardinality strata (langs,
    sources, shards), not per-document groups.

    Two-phase like :func:`chunk_sequences`: range-partition, per-partition
    window cumsum, broadcast per-partition offsets — no single global
    window, and the per-group window is still bounded by one physical
    partition.  The ``_pid``-stamped frame is eagerly localCheckpoint'ed
    once so the totals job and the window pass see the same physical
    partitioning (range boundaries are sampled per execution — see
    chunk_sequences' correctness note).
    """
    from pyspark.sql import Window as W
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    groups = list(partition_by or [])
    gcols = [F.col(c) for c in groups]
    part = (
        df.repartitionByRange(n_parts, *gcols, *order_by)
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the per_part collect computes + persists in one job (see
        # with_global_index); the window phase reads the pinned blocks
        .localCheckpoint(eager=False)
    )
    per_part = (
        part.groupBy(*groups, "_pid").agg(F.sum(F.col(weight_col)).alias("_w")).collect()
    )
    running: dict[tuple, int] = {}
    rows = []
    sort_key = lambda r: (  # noqa: E731 — NULL groups first, then pid
        tuple((r[c] is not None, r[c]) for c in groups),
        r._pid,
    )
    for r in sorted(per_part, key=sort_key):
        key = tuple(r[c] for c in groups)
        rows.append((*key, int(r._pid), int(running.get(key, 0))))
        running[key] = running.get(key, 0) + r._w
    schema = StructType(
        [part.schema[c] for c in groups]
        + [StructField("_pid", IntegerType()), StructField("_offset", LongType())]
    )
    offsets_df = F.broadcast(
        local_frame(spark, rows, schema).withColumnsRenamed(
            {c: f"_g_{c}" for c in groups}
        )
    )
    # NULL-safe equality on the group keys: a NULL stratum is a real
    # stratum (plain join-on-names would silently drop its rows)
    cond = part["_pid"] == offsets_df["_pid"]
    for c in groups:
        cond = cond & part[c].eqNullSafe(offsets_df[f"_g_{c}"])
    w = W.partitionBy(*groups, "_pid").orderBy(*order_by)
    return (
        part.join(offsets_df, cond)
        .drop(offsets_df["_pid"])
        .drop(*[f"_g_{c}" for c in groups])
        .withColumn(
            out_col,
            (F.sum(F.col(weight_col)).over(w) + F.col("_offset")).cast("long"),
        )
        .drop("_pid", "_offset")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy sequential bin packing: walk documents in ``id_col`` order
    within each partition, close the open sequence whenever the next
    document would exceed ``budget`` (documents never straddle; a single
    document above budget gets its own oversize sequence).

    The reset-on-overflow state machine is not expressible as a window
    function, so this is the one intentional Arrow boundary: hash-
    partition by id, sort within partitions, and run the greedy fold in
    ``mapInPandas`` with O(1) state per partition.  Sequence ids are
    globally unique without coordination: ``partition_id << 40 | local``.
    Packing quality equals per-shard greedy packing on a 1000-executor
    corpus — exactly what shard-local training loaders do.

    Returns the input plus ``seq_id`` (long) and ``seq_pos`` (int).
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    schema = StructType(
        df.schema.fields
        + [StructField("seq_id", LongType(), False), StructField("seq_pos", IntegerType(), False)]
    )
    wname, budget_v = weight_col, int(budget)

    def pack(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        local_seq, used, pos = 0, 0, 0
        for pdf in batches:
            seq_ids, seq_poss = [], []
            for w in pdf[wname]:
                w = int(w)
                if pos > 0 and used + w > budget_v:
                    local_seq, used, pos = local_seq + 1, 0, 0
                seq_ids.append((pid << 40) | local_seq)
                seq_poss.append(pos)
                used += w
                pos += 1
            out = pdf.copy()
            out["seq_id"] = pd.Series(seq_ids, dtype="int64").values
            out["seq_pos"] = pd.Series(seq_poss, dtype="int32").values
            yield out

    return (
        df.repartition(n_parts, F.col(id_col))
        .sortWithinPartitions(id_col)
        .mapInPandas(pack, schema)
    )


def interleave_datasets(
    sources: dict[str, tuple[DataFrame, float]],
    *,
    id_col: str,
    salt: str = "mixture",
    u_expr: F.Column | None = None,
) -> DataFrame:
    """Deterministic weighted dataset mixture: sample each source at its
    rate and union, tagging provenance — the mixture step of a training
    pipeline (e.g. 100% curated + 30% web + 5% code).

    Sampling is hash-deterministic per id (same stability contract as
    :func:`deterministic_split`): re-running, repartitioning, or growing
    a source never flips previously-selected rows.  Pure narrow ops —
    filter + union — so the plan is a single pass over each source.

    ``u_expr`` overrides the uniform-[0,1) expression (e.g. an integer
    congruence for cross-engine oracle checks); it is evaluated against
    each source's rows.
    """
    parts = []
    for name, (df, rate) in sources.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0,1], got {rate}")
        u = (
            u_expr
            if u_expr is not None
            else (
                F.xxhash64(F.col(id_col), F.lit(salt)).bitwiseAND(F.lit((1 << 31) - 1))
                / F.lit(float(1 << 31))
            )
        )
        parts.append(
            df.filter(u < F.lit(rate)).withColumn("mixture_source", F.lit(name))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    *,
    fractions: dict,
    id_col: str,
    salt: str = "sample",
) -> DataFrame:
    """Hash-deterministic per-stratum sampling (same stability story as
    :func:`deterministic_split`; ``sampleBy`` is seed-stable but
    partitioning-sensitive)."""
    u = (F.xxhash64(F.col(id_col), F.lit(salt)).bitwiseAND(F.lit((1 << 31) - 1))) / F.lit(
        float(1 << 31)
    )
    frac = None
    for stratum, f in fractions.items():
        frac = (
            F.when(F.col(strata_col) == stratum, F.lit(float(f)))
            if frac is None
            else frac.when(F.col(strata_col) == stratum, F.lit(float(f)))
        )
    frac = frac.otherwise(F.lit(0.0))
    return df.filter(u < frac)


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    *,
    frac: float,
    order_col: str,
    salt: str | None = "sample",
) -> DataFrame:
    """Exact-rate per-stratum sampling: every stratum yields exactly
    ceil(frac * stratum_count) rows — the variant for quota-bound eval
    set construction where the hash filter's binomial jitter (see
    :func:`stratified_sample`) is unacceptable.

    Rows are ranked within each stratum by ``xxhash64(order_col, salt)``
    (a deterministic pseudo-random order, so the quota takes an unbiased
    slice) and the first ceil(frac * n) survive.  With ``salt=None`` the
    rank order is ``order_col`` itself — systematic head-of-stratum
    sampling, replayable by any SQL engine.

    Shape at corpus scale: one shuffle by stratum with a sort inside each
    (window row_number + count) — strata are large but the sort is
    spillable; the hash-filter variant remains the cheap default when
    exact quotas aren't required.
    """
    from pyspark.sql import Window as W

    rank_key = (
        F.xxhash64(F.col(order_col), F.lit(salt)) if salt is not None else F.col(order_col)
    )
    w = W.partitionBy(strata_col)
    rn = F.row_number().over(w.orderBy(rank_key, F.col(order_col)))
    quota = F.ceil(F.count(F.lit(1)).over(w) * F.lit(float(frac)))
    return (
        df.withColumn("_rn", rn)
        .withColumn("_quota", quota)
        .filter(F.col("_rn") <= F.col("_quota"))
        .drop("_rn", "_quota")
    )


def weighted_sample_k(
    df: DataFrame,
    *,
    k: int,
    weight_col: str,
    id_col: str,
    u_expr=None,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of exactly ``k`` rows
    (Efraimidis-Spirakis A-ES): each row draws u ∈ (0,1) and the k
    largest u^(1/w) win — the distributed-safe reservoir: no sequential
    pass, no per-partition quotas, just one TakeOrdered(k) over a pure
    projection, so it scales to any corpus and any executor count.

    Rows are ranked by ln(u)/w (monotone in u^(1/w), avoids pow's
    range issues); weights must be > 0 (non-positive weights are
    filtered out — they can never win anyway under A-ES semantics).

    ``u_expr`` overrides the uniform variate for engine-portable replay
    (the deterministic_split pinning pattern); the default is salted
    xxhash64 — stable across partitioning and corpus growth, not
    expressible in external SQL.
    """
    if u_expr is None:
        u_expr = (
            (F.xxhash64(F.col(id_col), F.lit(salt)).bitwiseAND(F.lit((1 << 31) - 1)))
            .cast("double")
            + F.lit(0.5)
        ) / F.lit(float(1 << 31))
    w = F.col(weight_col).cast("double")
    key = F.log(u_expr) / w
    return (
        df.filter(w > 0)
        .withColumn("_aes_key", key)
        .orderBy(F.col("_aes_key").desc(), F.col(id_col))
        .limit(k)
        .drop("_aes_key")
    )


def temperature_mixture(
    df: DataFrame,
    source_col: str,
    *,
    scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-weighted multi-source sampling plan (the multilingual /
    multi-corpus mixing rule: sampling weight ∝ n^(1/T) with T=2, i.e.
    sqrt(n) — upweights small sources relative to proportional sampling
    without letting any source dominate).

    Determinism discipline: sqrt is IEEE-754 CORRECTLY ROUNDED (unlike
    pow), so ``floor(sqrt(n) * scale)`` is bit-identical on any engine;
    the share denominator is then an INTEGER sum — no float-summation
    order anywhere — and the final share is one exact-integer division.
    Returns per source: (source, n_docs, weight_scaled, share).

    One combinable count shuffle; the share denominator is a one-row
    aggregate broadcast back (the scalar-crossJoin idiom — no Window at
    all, so the r13 no-global-window audit holds vacuously here).
    """
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = counts.withColumn(
        "weight_scaled",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * scale).cast("long"),
    )
    tot = w.agg(F.sum("weight_scaled").alias("_tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "weight_scaled",
            (F.col("weight_scaled") / F.col("_tot")).alias("share"),
        )
        .orderBy("source")
    )


def assign_training_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    n_shards: int = 8,
    serpentine: bool = True,
) -> DataFrame:
    """Token-balanced training-shard assignment: rank documents by
    descending ``weight_col`` (ties by id), then deal rank ``r`` to shard
    ``r % n`` — serpentine (boustrophedon) order by default, which
    reverses the dealing direction every round so the shard that got the
    heaviest item in round ``i`` gets the lightest in round ``i+1``;
    with sorted weights the max−min shard imbalance is bounded by ONE
    document's weight, which is what keeps every data-parallel trainer
    rank finishing its epoch together.

    Scale: ranking uses repartitionByRange on (weight desc, id) +
    :func:`with_global_index` — a distributed range sort plus the
    two-phase offset index, NO single-partition window (the naive
    ``row_number() OVER (ORDER BY ...)`` collapses 100 TB onto one
    task).  Returns (id, weight, shard).
    """
    n = int(n_shards)
    ranked = with_global_index(
        df.select(
            F.col(id_col).alias("_ts_id"), F.col(weight_col).alias("_ts_w")
        )
        .repartitionByRange(F.col("_ts_w").desc(), F.col("_ts_id"))
        .sortWithinPartitions(F.col("_ts_w").desc(), F.col("_ts_id")),
        out_col="_ts_rank",
        order_by=[F.col("_ts_w").desc(), F.col("_ts_id")],
    )
    pos = F.pmod(F.col("_ts_rank"), F.lit(n))
    rnd = F.floor(F.col("_ts_rank") / F.lit(n))
    shard = (
        F.when(F.pmod(rnd, F.lit(2)) == 0, pos).otherwise(F.lit(n - 1) - pos)
        if serpentine
        else pos
    )
    return ranked.select(
        F.col("_ts_id").alias(id_col),
        F.col("_ts_w").alias(weight_col),
        shard.cast("int").alias("shard"),
    )
