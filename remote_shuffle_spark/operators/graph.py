"""Iterative graph operators: connected components for transitive
duplicate grouping (EXT).

Pairwise near-dup output (A~B, B~C) understates duplication: dedup needs
the transitive closure.  Connected components via iterative minimum-label
propagation — the standard large-graph formulation (HashToMin / large-star
variants; cf. GraphFrames):

    label(v) ← min(label(v), min over neighbors(label(u)))

Each iteration is one self-join + one aggregation (two shuffles) on the
edge list; iterations needed = graph diameter (near-dup clusters are
shallow — a handful).  Convergence is checked with a count of changed
labels, so the loop is deterministic and bounded by ``max_iter``.

This is the repo's one intentionally *iterative* operator — driver-side
loop, executor-side data — the shape Spark prescribes for Pregel-style
algorithms without a graph library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.local import local_frame


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    on_nonconverged: str = "raise",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Component label per vertex: (vertex, component) with component =
    min vertex id in the component.

    ``edges`` is an undirected edge list.  Isolated vertices don't appear
    (they are their own singleton components by definition).

    If ``max_iter`` rounds pass with labels still changing (diameter >
    max_iter — long chains), the labels are NOT a valid partition into
    components: ``on_nonconverged`` controls whether that raises
    (default — silent wrong answers poison downstream dedup) or merely
    warns (``"warn"``, for exploratory use).

    ``checkpoint_dir`` selects the reliability mode for the edge-list
    materialization: ``None`` (local default) uses localCheckpoint —
    executor-memory blocks, lost with the executor; a path routes it
    through :func:`plans.shuffle_policy.checkpoint_to` (durable storage
    + commit manifest), so at cluster scale an executor loss mid-loop
    re-READS the edges instead of re-running the whole upstream MinHash
    candidate join — the reference's executor-loss-no-recompute
    guarantee (DAGScheduler.scala:2038-2040) applied to the iterative
    operator.  Per-iteration frontiers stay local either way: losing one
    costs one iteration's recompute from the durable edges, not the
    pipeline.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}")
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # materialize the edge list ONCE: every iteration re-reads it, and
    # without the checkpoint each round would re-execute the upstream
    # pipeline that produced the edges (for near-dup groups that is the
    # whole MinHash candidate join — measured as the dominant cost)
    if checkpoint_dir is not None:
        from remote_shuffle_spark.plans.shuffle_policy import checkpoint_to

        sym = checkpoint_to(sym, checkpoint_dir)
    else:
        sym = sym.localCheckpoint(eager=True)
    # initial label = min(self, min neighbor)
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("minn"))
        .select("u", F.least(F.col("minn"), F.col("u")).alias("label"))
    )

    changed = -1
    for _ in range(max_iter):
        # propagate: candidate label for u = min over neighbors v of label(v)
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the previous label through the select so convergence is a
        # filter on the materialized frame, not an extra join per round
        new_labels = (
            labels.withColumnRenamed("label", "_old")
            .join(neighbor_labels, "u", "left")
            .select(
                "u",
                F.least(F.col("_old"), F.coalesce("nlabel", F.col("_old"))).alias("label"),
                "_old",
            )
        )
        # persist the new frontier: it feeds both the convergence count and
        # the next iteration, and lineage is truncated so plans don't grow
        # with the loop.  LAZY checkpoint + count = ONE job per iteration
        # (the count's job computes the frame and persists it as a side
        # effect) where eager + count paid two driver round trips.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge in max_iter={max_iter} rounds "
            f"({changed} labels still changing); component labels would be wrong "
            "(split components on long-diameter chains) — raise max_iter"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("u").alias("vertex"), F.col("label").alias("component"))


def near_duplicate_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """Transitive near-duplicate groups: MinHash pairs → connected
    components → (id, group_id, is_keeper).  Keeper = min id per group
    (keep-first), everything else in the group is droppable."""
    from remote_shuffle_spark.operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(df, id_col, text_col, threshold=threshold, **minhash_kwargs)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(
        F.col("vertex").alias(id_col),
        F.col("component").alias("group_id"),
        (F.col("vertex") == F.col("component")).alias("is_keeper"),
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over an UNDIRECTED edge list (edges are
    symmetrized, so every connected node has out-degree ≥ 1 and the
    dangling-mass correction is unnecessary) — the second iterative
    operator next to :func:`connected_components`, same driver-loop /
    executor-data shape Spark prescribes for Pregel-style algorithms.

    Engine-portable by construction: the recurrence runs in SCALED
    INTEGER fixed-point (``scale`` = 1e12), so there is no float
    operation anywhere in the loop —

        r₀ = scale div N
        rₜ₊₁(v) = (100-d)·scale div (100·N)
                  + d · Σ_{u→v} (rₜ(u) div deg(u)) div 100

    with ``div`` integer division on positive values (identical in
    Spark and DuckDB, unlike double rounding: a first cut re-quantized
    doubles to 12 dp each iteration and diverged from the oracle by one
    ULP at a rounding boundary — ROUND(double, n) is not engine-stable).
    The DuckDB oracle unrolls the identical integer stages, so the
    driver hash-compares every rank exactly.  Total mass stays ≤ scale,
    so BIGINT never overflows.

    One data shuffle per iteration (the contribution sum; the
    contribution join broadcasts the rank vector) — in the SYMMETRIZED
    graph every node in ``nodes`` has degree ≥ 1, so every node
    receives at least one neighbor contribution and the key set of
    ``sums`` is exactly ``nodes``: the per-iteration
    ``nodes LEFT JOIN sums`` re-keying pass the loop used to pay (one
    broadcast build + join stage per iteration, ~2 AQE stage jobs on a
    latency-floor-bound query — r15 probe: 49 → 39 jobs) is redundant
    and the new ranks read straight off the aggregate.  (The DIRECTED
    variant keeps its left join: without symmetrization, nodes with no
    in-edges exist and must still receive base + dangling mass.)
    Per-iteration frontiers localCheckpoint to keep plans from growing
    with the loop.
    Returns (vertex, rank_scaled BIGINT, rank DOUBLE = rank_scaled/scale
    — exact integer→double conversion below 2⁵³, one IEEE division).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    sym_deg = sym.join(deg, "u").localCheckpoint(eager=True)
    nodes = deg.select("u").localCheckpoint(eager=True)
    n = nodes.count()
    base = ((100 - damping_pct) * scale) // (100 * n)
    r = nodes.select("u", F.lit(scale // n).cast("long").alias("rs"))
    for _ in range(iterations):
        contrib = sym_deg.join(r, "u").select(
            F.col("v"), F.expr("rs div _deg").alias("_c")
        )
        r = (
            contrib.groupBy("v")
            .agg(F.sum("_c").alias("_s"))
            .select(
                F.col("v").alias("u"),
                (
                    F.lit(base) + F.expr(f"({damping_pct} * _s) div 100")
                ).cast("long").alias("rs"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select(
        F.col("u").alias("vertex"),
        F.col("rs").alias("rank_scaled"),
        (F.col("rs").cast("double") / scale).alias("rank"),
    )


def bfs_levels(
    edges: DataFrame,
    source,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Single-source shortest HOP distance over an undirected edge list —
    FRONTIER-based breadth-first search, the third member of the
    iterative family (connected_components, pagerank).

    Each round expands only the vertices settled LAST round (the
    frontier), anti-joins against the settled set, and stamps the new
    vertices with the round number — in synchronized rounds a vertex is
    first reached exactly at its hop distance, so no MIN-relaxation
    pass over the whole vertex set is needed (a first cut that relaxed
    ALL vertices every round measured 5.2 s at sf0.1; the frontier form
    shrinks per-round work to the frontier's edge neighborhood).
    Integer-exact and order-independent, so any engine reproduces it —
    the DuckDB oracle uses a recursive CTE and takes MIN level per
    node.  Unreachable vertices are omitted (matching the CTE).
    Raises if ``max_iter`` rounds still leave a non-empty frontier.
    Returns (vertex, level).
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = sym.sparkSession
    levels = local_frame(spark, [(source, 0)], "u long, level int")
    frontier = levels
    for k in range(1, max_iter + 1):
        frontier = (
            sym.join(frontier.select("u"), "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(levels, "u", "left_anti")
            .withColumn("level", F.lit(k))
            # lazy: the count below computes + persists in ONE job per
            # round (eager + count was two driver round trips per round)
            .localCheckpoint(eager=False)
        )
        if frontier.count() == 0:
            break
        levels = levels.unionByName(frontier).localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"bfs_levels did not converge in max_iter={max_iter} rounds — "
            "raise max_iter (graph eccentricity exceeds it)"
        )
    return levels.select(F.col("u").alias("vertex"), "level")


def pagerank_directed(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a DIRECTED edge list with dangling-mass
    redistribution — what a real link graph needs (the undirected
    :func:`pagerank` symmetrizes edges precisely to dodge dangling
    nodes; real crawls cannot).  A node with no out-edges (dangling)
    would leak its mass each step; the standard correction
    redistributes the summed dangling mass uniformly, here as ONE extra
    scalar aggregation per iteration:

        r₀ = scale div N
        Dₜ = Σ_{u dangling} rₜ(u)                 (scalar agg, broadcast)
        rₜ₊₁(v) = (100-d)·scale div (100·N)
                  + d·(Σ_{u→v} rₜ(u) div out(u) + Dₜ div N) div 100

    Same scaled-integer fixed-point discipline as :func:`pagerank`
    (``div`` on positive BIGINTs is identical in Spark and DuckDB;
    doubles diverged by one ULP) — so the DuckDB oracle unrolls the
    identical stages including the dangling scalar, and the driver
    hash-compares every rank.  Mass bound: contributions + dangling
    share ≤ scale, so 85·(·) stays far below 2⁶³.

    Scale shape: two keyed shuffles per iteration (contribution join +
    sum) plus one scalar agg whose single row is broadcast — the
    dangling correction adds NO per-node shuffle.  At 100 TB bucket
    edges by ``u`` so the per-iteration contribution join is
    exchange-free (same move as the undirected probe's
    docs/scale.md row).

    Returns (vertex, rank_scaled BIGINT, rank DOUBLE).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = (
        e.select("u")
        .union(e.select(F.col("v").alias("u")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e_deg = e.join(outdeg, "u").localCheckpoint(eager=True)
    dangling = nodes.join(outdeg, "u", "left_anti").localCheckpoint(eager=True)
    n = nodes.count()
    base = ((100 - damping_pct) * scale) // (100 * n)
    r = nodes.select("u", F.lit(scale // n).cast("long").alias("rs"))
    for _ in range(iterations):
        dang = dangling.join(r, "u").agg(
            F.coalesce(F.sum("rs"), F.lit(0)).cast("long").alias("_dang")
        )
        contrib = e_deg.join(r, "u").select(
            F.col("v"), F.expr("rs div _deg").alias("_c")
        )
        sums = contrib.groupBy("v").agg(F.sum("_c").alias("_s"))
        r = (
            nodes.join(sums, nodes["u"] == sums["v"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "u",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * (coalesce(_s, 0L) + _dang div {n})) div 100"
                    )
                )
                .cast("long")
                .alias("rs"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select(
        F.col("u").alias("vertex"),
        F.col("rs").alias("rank_scaled"),
        (F.col("rs").cast("double") / scale).alias("rank"),
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an UNDIRECTED graph given as (src, dst)
    pairs (either orientation, self-loops and duplicates tolerated).

    Algorithm: canonicalize each edge to (lo, hi) with lo < hi and
    distinct — so every undirected edge appears exactly once — then count
    ordered wedges (a<b<c: edges (a,b) and (b,c)) that close with edge
    (a,c).  Each triangle a<b<c is counted exactly once.

    Scale: two hash-joins over the oriented edge list — no enumeration of
    neighbor pairs per vertex, so the plan's cost is bounded by the JOIN
    output (the wedge count), not degree^2 blowup on the driver.  The
    id-orientation used here is the SQL-mirrorable choice; at 100 TB with
    power-law degrees, orient by (degree, id) instead — pointing edges
    from low- to high-degree vertices bounds every vertex's out-degree by
    O(sqrt(m)) and with it the wedge count (the classic heavy-hitter fix;
    same two joins afterwards).  AQE skew-join splitting covers moderate
    skew in either orientation.

    Returns one row: (n_vertices, n_edges, n_triangles).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    wedges = e.alias("ab").join(
        e.alias("bc"), F.col("ab.hi") == F.col("bc.lo")
    ).select(
        F.col("ab.lo").alias("a"), F.col("ab.hi").alias("b"), F.col("bc.hi").alias("c")
    )
    closed = wedges.join(
        e.alias("ac"),
        (F.col("a") == F.col("ac.lo")) & (F.col("c") == F.col("ac.hi")),
    )
    verts = e.select(F.col("lo").alias("v")).union(e.select("hi")).distinct()
    return (
        closed.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(verts.agg(F.count(F.lit(1)).alias("n_vertices"))))
        .select("n_vertices", "n_edges", "n_triangles")
    )


def label_propagation(
    edges: DataFrame,
    *,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """SYNCHRONOUS label propagation over an undirected graph: every
    vertex starts labeled with its own id; each iteration relabels every
    vertex with its neighbors' most frequent round-(t-1) label, ties to
    the SMALLEST label — both rules fixed so the trajectory is fully
    deterministic (asynchronous/random-order LP, the usual presentation,
    is not reproducible across engines; synchronous-min is the standard
    determinization).  Returns (vertex, label) after ``iterations``.

    Scale: per iteration one hash-join of the (vertex, label) frame onto
    the edge list + one combinable count + one min(struct) argmax — all
    keyed shuffles, nothing quadratic; the frontier frame is
    localCheckpoint'ed per round (same durable-iteration discipline as
    :func:`pagerank`, see checkpoint notes there).  Iterations are a
    floor, like pagerank's — price is iterations x one edge-join.
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(lo.alias("a"), hi.alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        e.select(F.col("a").alias("v")).distinct().select("v", F.col("v").alias("label"))
    ).localCheckpoint(eager=True)
    for _ in range(iterations):
        nbr = e.join(labels, e["b"] == labels["v"]).select(
            e["a"].alias("u"), "label"
        )
        counts = nbr.groupBy("u", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("u")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("m"))
            .select(F.col("u").alias("v"), F.col("m.label").alias("label"))
            # lazy: no per-iteration action exists here, so the caller's
            # ONE action computes the whole loop, persisting each round's
            # frame as it goes — plans stay truncated (LogicalRDD swap
            # happens at checkpoint-mark time), but the driver no longer
            # pays an eager job per iteration.
        ).localCheckpoint(eager=False)
    return labels


def kcore_peel(
    edges: DataFrame,
    k: int,
    *,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling over an undirected graph: each ROUND
    simultaneously removes every vertex whose degree in the CURRENT
    residual graph is < k (the standard synchronous peel — order-free,
    hence deterministic and engine-mirrorable, unlike sequential
    min-degree peeling).  After ``rounds`` rounds, returns one row per
    round: (round, removed_vertices, remaining_vertices,
    remaining_edges).  Synchronous peeling converges to the true k-core
    (the peel sequence is confluent); ``rounds`` bounds the work the way
    the other iterative operators do (pagerank/BFS/LP) — rounds after
    the fixpoint remove 0 and cost one tiny agg each.

    Scale: per round one degree aggregation (combinable count on vertex)
    + one semi-join of the edge list against surviving vertices (both
    endpoints) — all keyed shuffles on vertex id, nothing quadratic;
    the residual edge frame is localCheckpoint'ed per round so plans do
    not grow with the loop.  The three report numbers (removed /
    remaining vertices / remaining edges) are gathered in ONE combined
    action per round — a crossJoin of three one-row aggregates — not
    three separate count() jobs (r9 verdict: the per-round actions were
    a third of the iteration floor).
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(lo.alias("a"), hi.alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    ).localCheckpoint(eager=True)
    spark = edges.sparkSession
    stats = []
    cur = und
    for r in range(1, int(rounds) + 1):
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select(F.col("a").alias("v"))
        cur = (
            cur.join(keep.withColumnRenamed("v", "a"), "a")
            .join(keep.withColumnRenamed("v", "b"), "b")
            .select("a", "b")
            # eager stays: the round's report action reads this frame via
            # TWO parallel aggregate branches (new_sym agg + edge count) —
            # a lazy checkpoint could compute it twice concurrently before
            # the cache lands; the BFS/CC loops fold eager+count instead
            # because their count is the frame's ONLY consumer.
        ).localCheckpoint(eager=True)
        new_sym = cur.union(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        row = (
            deg.agg(
                F.sum(F.when(F.col("d") < k, 1).otherwise(0))
                .cast("long")
                .alias("removed")
            )
            .crossJoin(
                new_sym.agg(F.countDistinct("a").cast("long").alias("n_v"))
            )
            .crossJoin(cur.agg(F.count(F.lit(1)).cast("long").alias("n_e")))
            .first()
        )
        stats.append((r, row.removed or 0, row.n_v, row.n_e))
    return local_frame(
        spark, stats,
        "round int, removed_vertices long, remaining_vertices long, "
        "remaining_edges long",
    )


def common_neighbor_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 20,
) -> DataFrame:
    """Link prediction by common-neighbor counting: for every NON-adjacent
    vertex pair (u < v) sharing at least one neighbor, emit
    (u, v, common, jacc_den) where ``common`` is the number of shared
    neighbors and ``jacc_den`` = deg(u) + deg(v) − common, so
    common/jacc_den is the Jaccard link score — kept as the integer
    numerator/denominator pair for engine-exact comparison.  Top
    ``top_k`` by (common DESC, u, v): a total order, so the limit
    boundary is deterministic.

    Plan: symmetrize edges, self-join on the shared-neighbor column
    (one hash shuffle keyed by neighbor), anti-join the existing edge
    set, broadcast the degree table.  Wedge enumeration through hubs is
    the same Θ(Σ deg²) bound as triangle counting — callers keep the
    graph sliced/sparse (the ext_triangle_count discipline) or pre-cap
    hub degrees at target scale.

    Input edges are normalized to canonical orientation (least, greatest)
    + distinct INSIDE the operator, so a caller passing both (u,v) and
    (v,u) gets the same adjacency/degree/anti-join semantics as one
    passing canonical edges (the r11 ADVICE double-count hazard).
    NULL-endpoint rows are dropped first: they were inert before
    canonicalization (a NULL never matches the wedge join) and
    least/greatest would otherwise collapse them into degree-inflating
    self-loops.  Self-loop edges (u,u) are dropped too: unionAll would
    put (u,u) into adj twice, inflating deg(u) by 2 and making u its
    own wedge neighbor — simple-graph semantics, like the NULL rule.
    """
    e = (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src), F.col(dst)).alias("src"),
            F.greatest(F.col(src), F.col(dst)).alias("dst"),
        )
        .distinct()
    )
    adj = e.select(F.col("src").alias("u"), F.col("dst").alias("n")).unionAll(
        e.select(F.col("dst").alias("u"), F.col("src").alias("n"))
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cn = (
        adj.alias("a")
        .join(adj.alias("b"), F.col("a.n") == F.col("b.n"))
        .filter(F.col("a.u") < F.col("b.u"))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonedge = cn.join(
        e,
        (cn["u"] == e["src"]) & (cn["v"] == e["dst"]),
        "left_anti",
    )
    du = deg.select(F.col("u").alias("_du_u"), F.col("d").alias("_du_d"))
    dv = deg.select(F.col("u").alias("_dv_u"), F.col("d").alias("_dv_d"))
    return (
        nonedge.join(F.broadcast(du), nonedge["u"] == du["_du_u"])
        .join(F.broadcast(dv), nonedge["v"] == dv["_dv_u"])
        .select(
            "u",
            "v",
            "common",
            (F.col("_du_d") + F.col("_dv_d") - F.col("common")).alias("jacc_den"),
        )
        .orderBy(F.col("common").desc(), "u", "v")
        .limit(top_k)
    )
