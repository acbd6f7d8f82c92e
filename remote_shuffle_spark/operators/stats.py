"""Distributed statistics operators (EXT — SURVEY §2.3): engine-portable
pairwise correlation via exact decimal partial sums.

``F.corr`` (and any one-pass float implementation) accumulates doubles in
partition order, so two engines — or two runs with different partitioning —
disagree in the last ULPs.  For the CORRECTNESS gate (and any reproducible
pipeline) the moments are instead accumulated exactly in DECIMAL, which is
associative and commutative regardless of partitioning, and only the final
closed-form expression runs in floating point — identical inputs, identical
IEEE ops, identical bits on every engine.

Shape at 100 TB: five combinable SUM/COUNT aggregates per pair over a
narrow projection — one map-side-combined shuffle of a single row per
partition.  Decimal addition costs ~2x double addition; the moments row is
O(pairs), never O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.local import local_frame

# Input values are cast to DECIMAL(18,6) (covers TPC-H money/quantity
# magnitudes).  Products deliberately pair a DECIMAL(19,6) left operand
# with a DECIMAL(18,6) right one: 19+18+1 = 38 keeps Spark's product at
# scale 12 EXACTLY (a 19×19 product hits precision 39 and Spark silently
# rounds the scale down to 11), and precision 19 forces DuckDB into
# int128 arithmetic (its int64 multiply overflows on fixture money
# values).  Sums of ~1e9 rows of ~1e10 products stay inside 38 digits.
_IN_DEC = "decimal(18,6)"
_IN_DEC_WIDE = "decimal(19,6)"


def pairwise_corr(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Pearson correlation for each (x, y) column pair, computed from
    exact decimal moments.  Returns (pair, n, corr) ordered by pair.

    corr = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²)),
    with every S an exact DECIMAL sum; the division/sqrt run in DOUBLE on
    exact operands, so the result is bit-stable across engines and
    partitionings.
    """
    aggs = []
    for x, y in pairs:
        tag = f"{x}__{y}"
        xd = F.col(x).cast(_IN_DEC)
        yd = F.col(y).cast(_IN_DEC)
        xw = F.col(x).cast(_IN_DEC_WIDE)
        yw = F.col(y).cast(_IN_DEC_WIDE)
        aggs += [
            F.count(F.when(F.col(x).isNotNull() & F.col(y).isNotNull(), 1)).alias(f"n_{tag}"),
            F.sum(xd).alias(f"sx_{tag}"),
            F.sum(yd).alias(f"sy_{tag}"),
            F.sum(xw * yd).alias(f"sxy_{tag}"),
            F.sum(xw * xd).alias(f"sxx_{tag}"),
            F.sum(yw * yd).alias(f"syy_{tag}"),
        ]
    moments = df.agg(*aggs)

    rows = []
    for x, y in pairs:
        tag = f"{x}__{y}"
        n = F.col(f"n_{tag}").cast("double")
        sx = F.col(f"sx_{tag}").cast("double")
        sy = F.col(f"sy_{tag}").cast("double")
        sxy = F.col(f"sxy_{tag}").cast("double")
        sxx = F.col(f"sxx_{tag}").cast("double")
        syy = F.col(f"syy_{tag}").cast("double")
        corr = (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )
        rows.append(
            F.struct(
                F.lit(f"{x},{y}").alias("pair"),
                F.col(f"n_{tag}").alias("n"),
                corr.alias("corr"),
            )
        )
    return (
        moments.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.pair", "r.n", "r.corr")
        .orderBy("pair")
    )


def hll_distinct_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group AND global distinct counts via Apache DataSketches HLL:
    sketches build per group (combinable aggregation), and the global
    figure MERGES the group sketches instead of re-scanning the input —
    the pattern that makes 100 TB rollup hierarchies (hour→day→month,
    shard→region→global) one cheap pass per level.

    Returns (scope, exact_distinct, within_5pct) with one row per group
    plus a 'GLOBAL' row; ``exact_distinct`` rides along as the
    verification column (at target scale you'd drop it — exact
    global distinct is the expensive thing the sketch replaces; its
    shuffle carries every distinct value, the sketch's carries 2^lg_k
    bytes per group).
    """
    sketches = df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sk"),
        F.count_distinct(F.col(value_col)).alias("exact_distinct"),
    )
    per_group = sketches.select(
        F.col(group_col).cast("string").alias("scope"),
        "exact_distinct",
        F.hll_sketch_estimate("sk").alias("est"),
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"), F.lit(False))).alias("est")
    )
    global_exact = df.agg(F.count_distinct(F.col(value_col)).alias("exact_distinct"))
    global_row = global_exact.crossJoin(merged).select(
        F.lit("GLOBAL").alias("scope"), "exact_distinct", "est"
    )
    out = per_group.unionByName(global_row)
    within = (
        F.abs(F.col("est") - F.col("exact_distinct"))
        <= F.lit(0.05) * F.col("exact_distinct")
    ).cast("int")
    return (
        out.select(
            "scope",
            "exact_distinct",
            within.alias("within_5pct"),
        )
        .orderBy("scope")
    )


def time_weighted_sums(
    df: DataFrame,
    *,
    timeline_col: str,
    ts_col: str,
    cents_col: str,
    group_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Time-weighted-average building blocks (the TimescaleDB
    ``time_weight`` / hypertable-rollup primitive): each observation's
    value holds from its timestamp until the SAME timeline's next
    observation (LOCF — last observation carried forward); the
    interval-weighted sums are grouped by the ``group_col`` of the
    observation that OWNS the interval.

    Returns (group, n_intervals, tw_num, tw_den_sec) where
    tw_num = Σ cents·dt_sec and tw_den_sec = Σ dt_sec over closed
    intervals (each timeline's last observation has no successor and is
    excluded).  Emitting the integer sums instead of the ratio keeps the
    result engine-exact end to end — the consumer divides.

    Determinism: the per-timeline order is (ts, tiebreak) — a TOTAL
    order, so simultaneous observations get deterministic intervals.
    dt_sec is the microsecond difference under integer division
    (Spark ``div`` == DuckDB ``//`` for the non-negative diffs here).

    Shape at 100 TB: ONE shuffle (window over timeline) + one combinable
    grouped sum over a narrow projection.  Sums are int64 — bounded by
    cents ≤ 1e5 × dt ≤ 2.6e6 s × rows; at ≫1e10 rows widen the two sums
    to DECIMAL(38,0) (one cast, same plan).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(timeline_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    closed = (
        df.select(
            F.col(group_col).alias("group"),
            F.col(cents_col).alias("_cents"),
            (F.lead(us).over(w) - us).alias("_dt_us"),
        )
        .filter(F.col("_dt_us").isNotNull())
        .withColumn("_dt_sec", F.expr("_dt_us div 1000000"))
    )
    return (
        closed.groupBy("group")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.col("_cents") * F.col("_dt_sec")).alias("tw_num"),
            F.sum("_dt_sec").alias("tw_den_sec"),
        )
        .orderBy("group")
    )


def grouped_median2(
    df: DataFrame, group_col: str, value_col: str, *, out_col: str = "med2"
) -> DataFrame:
    """EXACT distributed per-group median, integer-safe: returns
    (group, n, ``out_col``) where ``out_col`` is TWICE the median —
    x[(n+1) div 2] + x[(n+2) div 2] in 1-indexed sorted order — so an
    even-count median of integer values needs no fractional type and
    the statistic is engine-exact by construction (the MAD/outlier
    consumers compare 2·|x − med| against it without ever dividing).

    Plan: one window sort per group (row_number + count over the group)
    plus a combinable conditional sum.  Ranks among tied values are
    arbitrary but the PROJECTED value at any rank is unique, so the
    result is deterministic.  Exact median is inherently a per-group
    sort; at 100 TB prefer approx_percentile unless the pipeline needs
    exactness — this operator exists for the exact path (data audits,
    gate fixtures, robust-stat thresholds on bounded groups).
    """
    from pyspark.sql import Window

    wg = Window.partitionBy("group")
    ranked = (
        df.select(F.col(group_col).alias("group"), F.col(value_col).alias("v"))
        .withColumn("rn", F.row_number().over(wg.orderBy("v")))
        .withColumn("n", F.count(F.lit(1)).over(wg))
        .withColumn("lo", F.expr("(n + 1) div 2"))
        .withColumn("hi", F.expr("(n + 2) div 2"))
    )
    return ranked.groupBy("group").agg(
        F.max("n").alias("n"),
        (
            F.sum(F.when(F.col("rn") == F.col("lo"), F.col("v")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("rn") == F.col("hi"), F.col("v")).otherwise(F.lit(0)))
        ).alias(out_col),
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str, *, round_to: int = 6
) -> DataFrame:
    """Pearson chi-square test of independence for two categorical
    columns — the dataset-audit primitive for "is the label balanced
    across sources / languages / shards".

    Plan shape: ONE combinable count aggregation over (row, col) builds
    the contingency table (cardinality = |rows| x |cols|, ≪ corpus);
    marginals and the statistic are computed over that tiny table
    (window-free: marginals are two more small aggregations joined back,
    broadcast by AQE).  The corpus is read once.

    Determinism: observed/marginal counts are exact integers; each cell's
    (O-E)^2/E term is one double expression rounded to ``round_to`` and
    summed as DECIMAL (order-independent), so the statistic is
    bit-identical across engines.  Returns one row:
    (n, n_rows, n_cols, dof, chi2).

    NULL policy: a NULL category is a REAL category (its own row/column
    of the contingency table) — for a dataset-audit primitive, missing
    labels are usually the most interesting stratum, and silently
    zeroing their observed counts (what plain equi-joins on the grid
    would do) skews the statistic.  All grid joins are null-safe and the
    row/column cardinalities count the NULL stratum.
    """
    if not 0 <= round_to <= 10:
        raise ValueError(f"round_to must be in [0, 10], got {round_to}")
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    row_tot = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    col_tot = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    # row_tot/col_tot row counts ARE the category cardinalities including
    # the NULL stratum (count_distinct would drop it)
    nr = row_tot.agg(F.count(F.lit(1)).alias("n_rows"))
    nc = col_tot.agg(F.count(F.lit(1)).alias("n_cols"))
    # the statistic sums over EVERY (r, c) cell of the table, including
    # unobserved ones (O=0 still contributes E): build the full grid from
    # the two marginal tables, then null-safe left-join the observed
    # counts so NULL categories keep their observations
    obs = cells.select(
        F.col("r").alias("_obs_r"), F.col("c").alias("_obs_c"), "o"
    )
    expected = (
        row_tot.crossJoin(col_tot)
        .join(
            obs,
            F.col("r").eqNullSafe(F.col("_obs_r"))
            & F.col("c").eqNullSafe(F.col("_obs_c")),
            "left_outer",
        )
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .drop("_obs_r", "_obs_c")
        .crossJoin(F.broadcast(n))
        .withColumn("e", F.col("rt") * F.col("ct") / F.col("n"))
    )
    term = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), round_to
    ).cast(f"decimal(28,{round_to})")
    chi = expected.agg(
        F.max("n").alias("n"), F.sum(term).cast("double").alias("chi2")
    )
    return (
        chi.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n",
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
            "chi2",
        )
    )


def histogram_cdf(
    df: DataFrame,
    value_col: str,
    *,
    weight_col: str | None = None,
    cnt_col: str = "cnt",
    cum_col: str = "cum",
    num_partitions: int | None = None,
    total_out: list | None = None,
) -> DataFrame:
    """(value, cnt, cum) histogram with an EXACT inclusive running total
    in ascending ``value_col`` order — the distributed stage 2 of an
    exact global rank (r12 verdict item 2).  Row ranks of a value v
    occupy the interval (cum − cnt, cum], so the r-th smallest element
    of the original multiset is the UNIQUE histogram row with
    cum − cnt < r ≤ cum — exact quantiles, Lorenz/Gini prefix sums and
    trimmed-tail walks all read off this table without ever ranking the
    corpus row-by-row.

    Plan (no single-partition sort anywhere): one map-side-combined
    groupBy collapses the multiset to its distinct values (|distinct|
    ≪ corpus); the running total over that histogram is two-phase in
    the :func:`~remote_shuffle_spark.operators.pipeline.with_global_index`
    discipline — repartitionByRange + sortWithinPartitions on the value
    (localCheckpoint'ed, materialized by the subtotal collect, so the
    subtotal phase and the window phase see identical range boundaries),
    per-partition subtotals
    collected driver-side (ONE row per partition, bounded by the range
    exchange's width — ``num_partitions`` when given, else the session's
    shuffle-partition setting), cumulative offsets broadcast back, and a
    per-partition window adds the local prefix sum.  Every stage is
    partition-parallel.

    ``weight_col=None`` counts rows; otherwise ``cnt`` is the exact SUM
    of the (integer) weight per distinct value.  NULL values are
    excluded (a NULL has no rank).

    CONTRACT: weights must be STRICTLY POSITIVE integers — ``cnt`` is a
    multiplicity ("this value appears cnt times").  A zero or negative
    weight makes ``cum`` non-monotonic and silently breaks the
    (cum − cnt, cum] rank-interval identity that
    :func:`exact_rank_value` and every exact-rank caller rely on.
    Callers with zero-weight rows must filter them out first (a value
    with multiplicity 0 simply isn't in the multiset).

    ``total_out``: pass an empty list to ALSO receive the total mass
    (Σcnt == the final ``cum``) appended as ``total_out[0]`` — the
    per-partition subtotals are summed on the driver anyway to build the
    offset table, so the grand total is free; callers that need N for
    rank arithmetic (quantile probes) read it here instead of paying a
    max(cum) aggregation pass over the cdf output (or, worse, a second
    corpus scan).
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    agg = (
        F.count(F.lit(1)) if weight_col is None else F.sum(F.col(weight_col))
    ).cast("long")
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(agg.alias(cnt_col))
    )
    # num_partitions=None (the default) leaves the range-exchange width to
    # the session: spark.sql.shuffle.partitions is the starting point (the
    # cluster preset scales it to ~2.5x total cores) and AQE may coalesce
    # the exchange when the histogram is small — so the per-partition
    # window input stays bounded as the distinct-value domain grows,
    # instead of a hard-coded 32 (r13 verdict item 6).  The
    # localCheckpoint below pins whatever layout was chosen for both the
    # subtotal and window phases, so results are layout-invariant either
    # way (scripts/partition_invariance_probe.py).  The offsets collect is
    # one row per partition — bounded by the exchange width.
    ranged = (
        hist.repartitionByRange(value_col)
        if num_partitions is None
        else hist.repartitionByRange(num_partitions, value_col)
    )
    part = (
        ranged.sortWithinPartitions(value_col)
        .withColumn("_pid", F.spark_partition_id())
        # lazy checkpoint: the subtotals collect below is the sole first
        # consumer, so one job computes AND persists the frame (eager +
        # collect paid two driver round trips); the window phase reads
        # the same persisted blocks — the chosen range layout stays
        # pinned for both phases exactly as before.
        .localCheckpoint(eager=False)
    )
    subtotals = part.groupBy("_pid").agg(F.sum(cnt_col).alias("_n")).collect()
    offsets, running = [], 0
    for r in sorted(subtotals, key=lambda r: r._pid):
        offsets.append((int(r._pid), running))
        running += int(r._n)
    if total_out is not None:
        total_out.append(running)
    if not offsets:
        return part.withColumn(cum_col, F.lit(None).cast("long")).drop("_pid")
    offsets_df = F.broadcast(
        local_frame(spark, offsets, "_pid int, _offset long")
    )
    w = (
        W.partitionBy("_pid")
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        part.join(offsets_df, "_pid")
        .withColumn(cum_col, (F.sum(cnt_col).over(w) + F.col("_offset")).cast("long"))
        .drop("_pid", "_offset")
    )


def exact_rank_value(rank, value_col: str, *, cnt_col: str = "cnt", cum_col: str = "cum"):
    """Column expression: the value at 1-indexed global ``rank`` read off
    a :func:`histogram_cdf` table — aggregate-usable, so several rank
    probes (p50/p90/p99, trim boundaries) evaluate in ONE combinable
    pass over the histogram.  ``rank`` is a Column (usually derived from
    a broadcast total-count scalar); callers aggregate the returned
    expression over a frame with the histogram's cnt/cum columns in
    scope.
    """
    return F.max(
        F.when(
            ((F.col(cum_col) - F.col(cnt_col)) < rank) & (rank <= F.col(cum_col)),
            F.col(value_col),
        )
    )
