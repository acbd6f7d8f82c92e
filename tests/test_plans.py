"""Physical-plan assertions — scale properties, not just results.

Mirrors SURVEY §4: the reference's optimizations are physical-I/O level;
ours are plan-level.  These tests fail if a code change silently breaks
pushdown, broadcast choice, or bucketed-join exchange elimination."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import remote_shuffle_spark.ext_queries  # noqa: F401
from remote_shuffle_spark.plans import explain, shuffle_policy
from remote_shuffle_spark.queries import REGISTRY
from remote_shuffle_spark.sources.tables import load_table


def test_q01_filter_and_projection_pushed_to_scan(spark, sf_smoke):
    df = REGISTRY["q01_scan_filter_agg"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan
    # column pruning: the scan must not read all 11 lineitem columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read and "l_returnflag" not in read and "l_comment" not in read


def test_q11_is_broadcast_join(spark, sf_smoke):
    df = REGISTRY["q11_broadcast_join"].fn(spark, sf_smoke)
    explain.assert_broadcast_join(df)


def test_q10_is_sort_merge_join(spark, sf_smoke):
    df = REGISTRY["q10_sort_merge_join"].fn(spark, sf_smoke)
    explain.assert_sort_merge_join(df)


def test_q04_uses_take_ordered(spark, sf_smoke):
    df = REGISTRY["q04_global_sort"].fn(spark, sf_smoke)
    assert "TakeOrderedAndProject" in explain.physical_plan(df)


def test_narrow_ops_have_no_exchange(spark, sf_smoke):
    """Per-document hashing/scoring must stay shuffle-free."""
    from remote_shuffle_spark.operators import text
    docs = load_table(spark, sf_smoke, "documents")
    df = text.quality_features(docs, "text")
    explain.assert_no_shuffle_exchange(df)


def test_bucketed_join_eliminates_exchange(spark, sf_smoke):
    """dkey/akey-layout parity: co-bucketed tables join with no shuffle."""
    orders = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer")
    shuffle_policy.write_bucketed(orders, "b_orders", ["o_custkey"], num_buckets=8)
    shuffle_policy.write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "b_cust", ["o_custkey"], num_buckets=8
    )
    a = shuffle_policy.read_bucketed(spark, "b_orders")
    b = shuffle_policy.read_bucketed(spark, "b_cust")
    # force the shuffled-join path (Catalyst would broadcast the small
    # side here); with co-bucketed inputs the SMJ needs NO exchange
    joined = a.hint("merge").join(b, "o_custkey")
    plan = explain.physical_plan(joined)
    assert "SortMergeJoin" in plan
    explain.assert_no_shuffle_exchange(joined)


def test_checkpoint_roundtrip_cuts_lineage(spark, sf_smoke, tmp_path):
    li = load_table(spark, sf_smoke, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    back = shuffle_policy.checkpoint_to(agg, str(tmp_path / "ckpt"))
    key = lambda d: sorted(d.items(), key=str)  # noqa: E731
    assert sorted((r.asDict() for r in back.collect()), key=key) == sorted(
        (r.asDict() for r in agg.collect()), key=key
    )
    # the re-read plan is a scan, not the original aggregation
    assert "HashAggregate" not in explain.physical_plan(back)


def test_salted_aggregate_equals_direct(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    direct = {
        (r.l_returnflag): (r.n, r.qty)
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.n, r.qty)
        for r in shuffle_policy.salted_aggregate(
            li.withColumn("qty_dec", F.col("l_quantity").cast("decimal(18,4)")),
            ["l_returnflag"],
            {"n": ("l_returnflag", "count"), "qty": ("qty_dec", "sum")},
            salt_buckets=8,
        ).collect()
    }
    assert direct == salted


def test_salted_aggregate_rejects_non_algebraic(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    with pytest.raises(ValueError):
        shuffle_policy.salted_aggregate(li, ["l_returnflag"], {"x": ("l_quantity", "avg")})


def test_q33_scalar_subquery_broadcasts_threshold(spark, sf_smoke):
    """The 1-row aggregate must reach the probe side as a broadcast —
    never a shuffled join of fact rows against a 1-row table."""
    df = REGISTRY["q33_scalar_subquery"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    # keyless 1-row cross join → BroadcastNestedLoopJoin is the right
    # physical form (the 1-row side ships, the fact side never moves)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q31_window_is_single_exchange(spark, sf_smoke):
    """Running window over o_custkey: exactly one shuffle (the window
    partitioning); the final orderBy is planned on top of it."""
    from remote_shuffle_spark.sources.tables import load_table as lt
    from pyspark.sql import Window as W

    orders = lt(spark, sf_smoke, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    df = orders.select(
        "o_custkey", "o_orderkey", F.sum("o_totalprice").over(w).alias("rt")
    )
    assert explain.count_shuffle_exchanges(df) == 1


def test_doc_embedding_join_prunes_payload_columns(spark, sf_smoke):
    """The multimodal id join must not read text or embedding payloads —
    column pruning reaches both parquet scans."""
    df = REGISTRY["ext_doc_embedding_join"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads, "expected parquet ReadSchema entries"
    joined = " ".join(reads)
    assert "embedding" not in joined and "text" not in joined


def test_tf_idf_df_join_is_broadcast_at_fixture_scale(spark, sf_smoke):
    """The document-frequency table is vocabulary-sized — the tf⋈df join
    must broadcast it (AQE or static), not shuffle the tf side."""
    from remote_shuffle_spark.operators.text import tf_idf

    docs = load_table(spark, sf_smoke, "documents")
    df = tf_idf(docs, "doc_id", "text")
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastQueryStage" in plan


def test_q41_topk_is_take_ordered_with_pushed_filters(spark, sf_smoke):
    """3-way join + top-10: the limit must plan as TakeOrdered (never a
    global sort), and each side's filter must reach its own scan."""
    df = REGISTRY["q41_shipping_priority"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    # per-side pushdown: mktsegment on customer, date bounds on orders/lineitem
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert any("LessThan(o_orderdate" in ln for ln in plan.splitlines())
    assert any("GreaterThan(l_shipdate" in ln for ln in plan.splitlines())


def test_q42_dimension_tables_broadcast(spark, sf_smoke):
    """region/nation (tiny dims) must broadcast in the 6-way chain — the
    probe sides shuffle on their own keys only."""
    df = REGISTRY["q42_regional_revenue"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_q44_exists_is_semi_join_with_range_conjunct(spark, sf_smoke):
    """Correlated EXISTS with a non-equi conjunct: one semi join whose
    condition carries BOTH the key equality and the date comparison —
    not a join followed by a distinct."""
    df = REGISTRY["q44_exists_subquery"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan
    cond_lines = [ln for ln in plan.splitlines() if "Join condition" in ln]
    assert any("l_shipdate" in ln and "o_orderdate" in ln for ln in cond_lines)


def test_q46_range_frame_single_exchange(spark, sf_smoke):
    """The RANGE-frame window needs exactly one exchange (on o_custkey)
    before the final output ordering."""
    df = REGISTRY["q46_range_frame"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    # exactly one HASH exchange (the window partitioning); the only other
    # exchange is the range partitioning for the final output ORDER BY
    hash_ex = [ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln]
    assert len(hash_ex) == 1


def test_q53_gap_fill_spine_is_generated_not_collected(spark, sf_smoke):
    """The hourly spine comes from sequence+explode over a 1-row agg —
    the plan must contain a Generate node, and no RDD/python stage."""
    df = REGISTRY["q53_gap_fill"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "Generate" in plan and "explode" in plan
    assert "BatchEvalPython" not in plan and "Scan ExistingRDD" not in plan


def test_q62_exists_plans_as_semi_join_with_pushed_dates(spark, sf_smoke):
    """TPC-H Q4 shape: EXISTS must become LEFT SEMI (one row per order
    regardless of matching lineitems) with the quarter filter pushed to
    the orders scan."""
    import remote_shuffle_spark.tpch_queries  # noqa: F401

    df = REGISTRY["q62_order_priority_exists"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan
    assert "PushedFilters" in plan


def test_q66_correlated_avg_decorrelates_without_cartesian(spark, sf_smoke):
    """TPC-H Q17 shape: the per-part AVG must become an aggregate joined
    on partkey — never a nested-loop re-aggregation per probe row."""
    import remote_shuffle_spark.tpch_queries  # noqa: F401

    df = REGISTRY["q66_small_quantity_revenue"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # filtered brand dim broadcasts


def test_q67_aggregates_before_joining_back(spark, sf_smoke):
    """TPC-H Q18 shape: the HAVING aggregation must sit BELOW the joins
    in the plan (qualifying orderkeys computed first, then joined up)."""
    import remote_shuffle_spark.tpch_queries  # noqa: F401

    df = REGISTRY["q67_large_volume_orders"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    # top-k never global-sorts
    assert "TakeOrdered" in plan
    # formatted plans print root-first: the joins (parents) must appear
    # BEFORE the HashAggregate in text, i.e. the aggregate is their child
    # and therefore executes first
    first_join = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if p != -1
    )
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1 and first_join < first_agg


def test_q68_disjunction_pushes_join_key_and_supports(spark, sf_smoke):
    """TPC-H Q19 shape: the OR branches share the partkey equi-join;
    the plan must be a hash join (key extracted), not a cartesian with a
    post-filter."""
    import remote_shuffle_spark.tpch_queries  # noqa: F401

    df = REGISTRY["q68_disjunctive_revenue"].fn(spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fuzzy_join_is_blocked_equi_join(spark, sf_smoke):
    """Record linkage must candidate-generate via the block equi-join —
    any cartesian in the plan means blocking silently broke."""
    from remote_shuffle_spark.operators.joins import fuzzy_self_join_blocked

    cust = load_table(spark, sf_smoke, "customer")
    df = fuzzy_self_join_blocked(cust, "c_custkey", "c_name")
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_funnel_narrows_without_window_over_corpus(spark, sf_smoke):
    """The funnel is filtered aggregations + joins on user_id — no Window
    operator over the full events table."""
    from remote_shuffle_spark.operators.funnel import funnel_counts

    events = load_table(spark, sf_smoke, "events")
    df = funnel_counts(events, ("view", "click", "purchase"))
    plan = explain.physical_plan(df)
    assert "Window" not in plan
    assert "PushedFilters" in plan  # step filters reach the scans


def test_q73_dimension_arms_broadcast(spark, sf_smoke):
    """Q7's nation→region dimension arms must broadcast (25x5 rows) —
    a shuffled dim join here would add two pointless exchanges to the
    6-table chain."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q73_volume_shipping"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q77_max_compare_runs_on_exact_decimal(spark, sf_smoke):
    """Q15's tie-preserving max filter must compare the EXACT decimal
    revenue — comparing the rounded double render would merge near-ties
    and is engine-unstable."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q77_top_supplier"](spark, sf_smoke)
    # the one-row max side broadcasts; the equality predicate references
    # the decimal column, and the double cast happens only in the output
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    rows = df.collect()
    assert len(rows) >= 1


def test_q78_single_fact_exchange_and_broadcast_dims(spark, sf_smoke):
    """Q21's plan promise: the double EXISTS/NOT-EXISTS rewrite keeps
    lineitem to ONE wide exchange (keyed by l_orderkey for the per-
    supplier agg; the per-order rollup reuses that partitioning), and
    supplier/nation/region ride broadcasts — no fact-fact self-join
    survives in the physical plan."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q78_waiting_suppliers"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the would-be self-join shape
    # wide exchanges: lineitem→orders join + (order,supplier) agg chain;
    # the final numwait-by-supplier and regroup-by-s_name aggs are
    # supplier-cardinality-tiny but still exchanges (the s_name regroup
    # matches the oracle's GROUP BY s_name semantics — ADVICE r4).
    # What must NOT appear is a second fact-sized exchange from a
    # correlated-subquery self-join (literal Q21 runs 4+).
    assert explain.count_shuffle_exchanges(df) <= 4


def test_q79_all_predicates_pushed_no_groupby_exchange(spark, sf_smoke):
    """Q6 is the pushdown sentinel: date band, discount band, and
    quantity cap all reach the parquet scan, the scan reads only the
    four referenced columns, and the global agg plans as partial/final
    with a single-partition exchange (no groupBy key shuffle)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q79_forecast_revenue"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    explain.assert_pushed_filters(
        df,
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    )
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read and "l_returnflag" not in read
    assert explain.count_shuffle_exchanges(df) <= 1


def test_range_join_default_is_spill_safe_sort_merge(spark, sf_smoke):
    """range_join's default strategy must stay the spill-safe sort-merge
    (survives any per-partition size; docs/scale.md round-4 probe), with
    no broadcast of either data-sized side and no cartesian product."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ext_range_join"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_dictionary_join_strategy_is_size_gated(spark, sf_smoke):
    """bigram_lm_scores picks the LM-dictionary join explicitly from the
    MEASURED gram cardinality: broadcast at/below max_broadcast_grams (no
    shuffle of the corpus-sized stream), hinted sort-merge above it (spills
    instead of building a vocab²-scaling broadcast — docs/scale.md round-4
    10x finding 2).  Both paths must return identical rows."""
    from remote_shuffle_spark.operators.text import bigram_lm_scores
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(200)

    small = bigram_lm_scores(docs, "doc_id", "text")
    assert "BroadcastHashJoin" in explain.physical_plan(small)

    big = bigram_lm_scores(docs, "doc_id", "text", max_broadcast_grams=0)
    plan = explain.physical_plan(big)
    assert "SortMergeJoin" in plan

    a = {tuple(r) for r in small.collect()}
    b = {tuple(r) for r in big.collect()}
    assert a == b and len(a) > 0


def test_q80_single_exchange_window_min(spark, sf_smoke):
    """TPC-H Q2 shape: the correlated-MIN subquery must plan as ONE window
    over the part key — one shuffle exchange total, the p_size predicate
    pushed into the part scan, every dimension join broadcast, TakeOrdered
    for the limit (never a global sort)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q80_min_cost_supplier"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "EqualTo(p_size,15)" in plan  # pushed, not post-scan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan  # everything broadcast
    assert explain.count_shuffle_exchanges(df) <= 2  # window + (AQE) agg


def test_q82_not_in_plans_as_broadcast_anti(spark, sf_smoke):
    """TPC-H Q16 shape: the supplier blacklist NOT IN must plan as a
    broadcast ANTI join (s_suppkey is non-null), never a nested-loop or
    full-shuffle anti."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q82_supplier_cnt_by_part"](spark, sf_smoke)
    plan = explain.physical_plan(df)
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin LeftAnti" not in plan


def test_fuzzy_segments_guard_joins_never_broadcast(spark):
    """The block-size guard table is BLOCK-cardinality (scales with the
    corpus); Catalyst's post-aggregate estimate broadcast it and OOM'd
    the 8g driver at the 1M-row probe (docs/scale.md round 6).  Pin the
    fix: both guard joins plan as SortMergeJoin, and no broadcast
    exchange carries the sizes aggregate."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.joins import fuzzy_self_join_segments

    df = spark.range(2000).select(
        F.col("id"), F.lower(F.hex(F.xxhash64("id"))).alias("txt")
    )
    out = fuzzy_self_join_segments(df, "id", "txt", max_distance=2)
    plan = explain.physical_plan(out)
    # the two hinted guard joins must be sort-merge regardless of what
    # AQE picks for the candidate join (fixture-small sides may still
    # broadcast THERE, which is fine — the guard table must not)
    assert plan.count("SortMergeJoin") >= 2


def test_knn_join_plan_broadcast_queries_two_phase_topk(spark, sf_smoke):
    """knn_join: the query batch joins by BROADCAST (corpus never
    shuffles for scoring) and top-k is TWO window nodes — the
    per-(query, subgroup) pass plus the tiny final — so no reducer sorts
    a corpus-sized slice."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.similarity import knn_join
    from remote_shuffle_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = knn_join(emb, "vec_id", "embedding", q, "vec_id", k=5)
    plan = explain.physical_plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # two row_number window OPERATORS (headers "(n) Window"; the regex
    # must not also match Spark's WindowGroupLimit partial top-k nodes)
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 2
    # Spark adds map-side WindowGroupLimit (partial rank pruning) around
    # both windows — the plan-level proof the top-k never ships full
    # partitions to a reducer
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan  # scoring never shuffles the corpus


def test_ivf_encode_corpus_side_has_no_shuffle(spark, sf_smoke):
    """The IVFADC encode frame — built the way ivf_pq_write_index builds
    it: model tables checkpointed eagerly, then the shared encode over
    the corpus — plans NO shuffle Exchange: the model folds into one
    broadcast row and every vector computes its cell and codes per row."""
    from remote_shuffle_spark.operators import similarity as S

    emb = load_table(spark, sf_smoke, "embeddings")
    qdf = S._quantized(emb, "vec_id", "embedding", "_id", "_q")
    cellc, cents = (
        t.localCheckpoint(eager=True)
        for t in S._pq_model(qdf, S.NUM_CELLS, S.NUM_CENTROIDS, S.NUM_SUBSPACES)
    )
    explain.assert_no_shuffle_exchange(S._ivf_encode(qdf, cellc, cents))


def test_ivf_cell_stats_assigns_cells_without_an_id_exchange(spark, sf_smoke):
    """ext_ivf_cell_stats assigns each vector its nearest cell per row
    over one broadcast row of centroids (the IVFADC encode's argmin), so
    no Exchange is keyed on the vector id: a crossJoin + groupBy("_id")
    assignment would hash-shuffle the whole corpus."""
    import __spark_entry__ as entrymod

    plan = explain.physical_plan(entrymod.queries()["ext_ivf_cell_stats"](spark, sf_smoke))
    parts = re.findall(r"Arguments: (hashpartitioning\([^)]*\))", plan)
    assert parts and not [p for p in parts if re.search(r"[(, ]_id#", p)], parts


def test_ivf_cell_stats_assigns_the_corpus_once(spark, sf_smoke):
    """The per-mille total comes from the 8 per-cell counts, not from a
    second aggregate over the assigned corpus: the plan holds exactly one
    BroadcastNestedLoopJoin (the assignment against the centroid row)."""
    import __spark_entry__ as entrymod

    plan = explain.physical_plan(
        entrymod.queries()["ext_ivf_cell_stats"](spark, sf_smoke), mode="simple"
    )
    assert len(re.findall(r"BroadcastNestedLoopJoin ", plan)) == 1, plan


def _plan_nodes(df) -> list[str]:
    """The simple-mode plan, one node per line, tree prefixes removed."""
    return [ln.lstrip(" :+-") for ln in explain.physical_plan(df, mode="simple").splitlines()]


def test_semantic_dedup_sizes_and_verifies_cells_on_one_exchange(spark, sf_smoke):
    """The cell size is a window count over the hashpartitioning(cell)
    Exchange that the per-cell Python verify also reads: one cell
    Exchange feeds both the Window and FlatMapGroupsInPandas, with no
    second Exchange between them, and no cached relation anywhere."""
    from remote_shuffle_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_smoke, "embeddings")
    nodes = _plan_nodes(semantic_dedup(emb, "vec_id", "embedding", threshold=0.45))
    plan = "\n".join(nodes)
    assert "InMemoryRelation" not in plan, plan
    cell_ex = [i for i, n in enumerate(nodes) if n.startswith("Exchange hashpartitioning(cell")]
    assert len(cell_ex) == 1, plan
    py = nodes.index(next(n for n in nodes if n.startswith("FlatMapGroupsInPandas")))
    win = nodes.index(next(n for n in nodes if n.startswith("Window [count(1)")))
    assert py < win < cell_ex[0], plan
    assert not [n for n in nodes[py + 1 : cell_ex[0]] if "Exchange" in n], plan


def test_embedding_neardup_sizes_buckets_on_the_join_exchange(spark, sf_smoke):
    """The bucket size is a window count over the hashpartitioning(bucket)
    Exchange, and the bucket self-join's second side reuses that
    Exchange: the executed plan shuffles twice (the bucket Exchange and
    the final distinct), with no size aggregate joined back and no cached
    relation.  A planted twin keeps the result non-empty, so AQE executes
    the whole plan instead of folding it to an empty relation."""
    from remote_shuffle_spark.operators.dedup import embedding_near_duplicates

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    twin = emb.filter(F.col("vec_id") == 7).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    pairs = embedding_near_duplicates(
        emb.union(twin), "vec_id", "embedding", dim=64, threshold=0.99, max_bucket_size=4096
    )
    assert (7, 100_007) in {(r.id_a, r.id_b) for r in pairs.collect()}
    final = _plan_nodes(pairs)
    final = final[: final.index("== Initial Plan ==")] if "== Initial Plan ==" in final else final
    plan = "\n".join(final)
    assert "isFinalPlan=true" in plan, plan
    shuffles = [n for n in final if n.startswith("Exchange hashpartitioning(")]
    assert len(shuffles) == 2, plan
    assert [n for n in shuffles if n.startswith("Exchange hashpartitioning(bucket")], plan
    assert [
        n for n in final
        if n.startswith("ReusedExchange") and "Exchange hashpartitioning(bucket" in n
    ], plan
    assert "InMemoryRelation" not in plan and "HashAggregate(keys=[bucket" not in plan, plan


def test_join_hints_reach_the_planner(spark, sf_smoke):
    """SHUFFLE_MERGE / SHUFFLE_HASH hints must actually pick the physical
    strategy (ext_join_strategy_hints proves result-equality; this proves
    the hints aren't silently ignored)."""
    from remote_shuffle_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    cust = load_table(spark, sf_smoke, "customer")
    orders = load_table(spark, sf_smoke, "orders")
    cond = F.col("o_custkey") == F.col("c_custkey")
    merge_plan = cust.hint("shuffle_merge").join(orders, cond)._jdf.queryExecution().executedPlan().toString()
    hash_plan = cust.hint("shuffle_hash").join(orders, cond)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in merge_plan, merge_plan[:500]
    assert "ShuffledHashJoin" in hash_plan, hash_plan[:500]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_classifier_prunes_scan_columns(spark, sf_smoke):
    """The classifier reads (doc_id, text) — the scan must not drag
    lang/source/n_chars along."""
    from remote_shuffle_spark.operators.text import quality_classifier
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan(quality_classifier(docs, "doc_id", "text"))
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in readschema and "doc_id" in readschema
    assert "lang" not in readschema and "n_chars" not in readschema


def test_segment_dedup_shuffles_hash_not_text(spark, sf_smoke):
    """The keep-first shuffle must be keyed on the 8-byte seg_hash; the
    segment STRING must never cross an exchange."""
    from remote_shuffle_spark.operators.dedup import segment_dedup_stats
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan(segment_dedup_stats(docs, "doc_id", "text"))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan[:800]
    assert any("seg_hash" in l for l in exchanges)
    assert not any("segment#" in l for l in exchanges), exchanges


def test_triangle_count_plans_no_cartesian(spark):
    """Wedge closure must be two equi-joins — a cartesian/nested-loop
    plan would be the quadratic blowup the operator exists to avoid."""
    from remote_shuffle_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 30) for b in range(1, 30) if a < b],
        "src long, dst long",
    )
    plan = _plan(triangle_count(edges))
    assert "CartesianProduct" not in plan
    # the two wedge joins must be equi-joins (the single-row stat
    # attaches at the top are broadcast crossJoins by construction and
    # carry one row each — those are fine)
    equi = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert equi >= 2, plan[:800]


def test_chunk_overlap_is_narrow_until_sort(spark, sf_smoke):
    """Chunk boundary math is pure per-row arithmetic: the only exchange
    in the plan is the final presentation sort's range partitioning."""
    import __spark_entry__ as e

    df = e.queries()["ext_chunk_overlap"](spark, sf_smoke)
    plan = _plan(df)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("rangepartitioning" in l for l in exchanges), exchanges


def test_exact_substring_dedup_shuffles_hash_not_text(spark, sf_smoke):
    """The corpus-wide keep-first shuffle must be keyed on the 8-byte
    win_hash; the window STRING must never cross an exchange (windows are
    hashed INSIDE the per-row transform, so text stays in the scan
    stage)."""
    from remote_shuffle_spark.operators.dedup import exact_substring_dedup_stats
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan(exact_substring_dedup_stats(docs, "doc_id", "text"))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan[:800]
    assert any("win_hash" in l for l in exchanges)
    assert not any("win#" in l or "segment#" in l for l in exchanges), exchanges
    # and the corpus-sized joins must never broadcast: Catalyst's static
    # size estimate under a Generate planned a BHJ over the keepers agg
    # (one row per DISTINCT window — corpus-sized), measured OOM at 2M
    # docs; the shuffle_merge hints must hold at every scale
    assert "BroadcastHashJoin" not in plan, plan


def test_sql_udf_inlines_into_codegen_and_pushdown(spark, sf_smoke):
    """SQL-defined functions must be INLINED by Catalyst: the table
    function's shipdate predicate reaches the parquet scan as a pushed
    filter, and no Python evaluation node appears anywhere (the whole
    point of packaging logic as SQL UDFs instead of Python UDFs)."""
    from remote_shuffle_spark.ext_queries import ext_sql_udf

    plan = _plan(ext_sql_udf(spark, sf_smoke))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200], plan[-1500:]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_assignment_no_single_partition_window(spark, sf_smoke):
    """The shard rank must come from the two-phase global index over a
    range-partitioned sort — a naive row_number() OVER (ORDER BY ...)
    would put the whole corpus through ONE task (the claim in
    assign_training_shards' docstring, pinned here)."""
    from remote_shuffle_spark.functions.hashing import tokens
    from remote_shuffle_spark.operators.pipeline import assign_training_shards
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    plan = _plan(assign_training_shards(docs, "doc_id", "n_tok"))
    assert "SinglePartition" not in plan, plan
    # the local index window partitions by the checkpoint's partition id
    # (the range sort itself happened before the eager localCheckpoint,
    # so the visible plan starts at Scan ExistingRDD)
    assert "Window" in plan and "_pid" in plan


def test_minhash_banding_joins_never_broadcast(spark, sf_smoke):
    """Both MinHash banding variants must pin their bucket joins to
    sort-merge: the qualifying-bucket set and the rows inside it scale
    with the corpus's near-dup density (the per-bucket cap bounds each
    bucket, not how many qualify), but they sit under a Generate whose
    static size estimate Catalyst trusts enough to plan BHJ (the r10
    plan audit caught BuildRight broadcasts on both joins in both
    variants — the exact_substring static-estimate trap again).  The
    candidate pipelines are checked pre-checkpoint (the eager
    localCheckpoint in the group variants would hide the upstream
    plan)."""
    from remote_shuffle_spark.operators.dedup import minhash_candidates
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    plan = _plan(minhash_candidates(docs, "doc_id", "text", reuse=False))
    assert "BroadcastHashJoin" not in plan, plan[:1200]

    # md5 variant: plan the REAL pre-checkpoint candidate pipeline (the
    # factored operator helper — not a copy, so removing the hints from
    # the operator fails THIS test)
    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.hashing import tokens
    from remote_shuffle_spark.operators.dedup import _md5_band_candidates

    tk = docs.select(
        F.col("doc_id").alias("_mm_id"), tokens("text").alias("_mm_tk")
    ).filter(F.size("_mm_tk") >= 3)
    cands = _md5_band_candidates(
        tk, shingle_len=3, num_hashes=16, num_bands=8, max_bucket_size=64
    )
    assert "BroadcastHashJoin" not in _plan(cands)


def test_ann_filtered_no_corpus_window_and_small_side_broadcast(spark, sf_smoke):
    """ext_ann_filtered's two scale contracts: (a) every row_number
    window is partitioned (the corpus-wide ranking is cut per
    (probe, subgroup) then per probe over <= probes*k survivors — no
    'No Partition Defined' single-partition pass over the corpus);
    (b) the unfiltered-rank join broadcasts the SMALL survivors side,
    never the scored corpus."""
    import __spark_entry__ as e

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from remote_shuffle_spark.sources.tables import load_table

    # reconstruct the pre-checkpoint filtered-top-k pipeline (the eager
    # localCheckpoint in the query hides the window subplan, same as the
    # minhash pins)
    emb = load_table(spark, sf_smoke, "embeddings")
    qv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 127).cast("long")
    )
    probes = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("_pid"), qv.alias("_pq")
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("_xq"), F.col("_pq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.select(F.col("vec_id").alias("_id"), F.col("label").alias("_label"),
                   qv.alias("_xq"))
        .crossJoin(probes)
        .filter(F.col("_id") != F.col("_pid"))
        .select("_pid", "_id", "_label", dot.alias("_dot"))
    )
    filt = scored.filter(F.col("_label") % 3 == 0)
    sub = filt.withColumn("_sub", F.pmod(F.xxhash64("_id"), F.lit(64)))
    w1 = W.partitionBy("_pid", "_sub").orderBy(F.col("_dot").desc(), "_id")
    survivors = (
        sub.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= 5).drop("_rn", "_sub")
    )
    w2 = W.partitionBy("_pid").orderBy(F.col("_dot").desc(), "_id")
    topk = (
        survivors.withColumn("_rank", F.row_number().over(w2))
        .filter(F.col("_rank") <= 5).select("_pid", "_rank", "_id", "_dot")
    )
    plan = _plan(topk)
    windows = [l for l in plan.splitlines() if "Window [" in l]
    assert windows, plan[:600]
    # every window spec must carry the probe-id partition column — an
    # unpartitioned (single-partition, corpus-wide) spec would omit it
    assert all("_pid" in l for l in windows), windows
    # and the full query's final plan broadcasts only survivor/probe-sized
    # frames into the corpus joins, with the SMALL side as the build side:
    # the unfiltered-rank join must be BuildRight (right = the 40-row _spid
    # survivors), and the scoring cross join BuildRight (right = 8 probes)
    full = _plan(e.queries()["ext_ann_filtered"](spark, sf_smoke))
    bhj = [l for l in full.splitlines() if "BroadcastHashJoin" in l and "_spid" in l]
    assert bhj and all("BuildRight" in l for l in bhj), bhj or full[:600]
    bnl = [l for l in full.splitlines() if "BroadcastNestedLoopJoin" in l]
    assert bnl and all("BuildRight" in l for l in bnl), bnl or full[:600]


def test_bucketed_band_index_join_eliminates_corpus_exchange(spark, sf_smoke, tmp_path):
    """The large-delta incremental-dedup path: a band index persisted as a
    bkey-bucketed table must feed the delta band join with NO exchange on
    the index (corpus) side — the dkey-layout asymmetry
    ext_dedup_incremental_bucketed exists for.  Pinned RELATIVELY against
    real operator code: the same dedup over the same data with a plain
    parquet index must plan strictly MORE Exchanges than the bucketed run
    (the delta side still shuffles in both; only the corpus-side exchange
    disappears)."""
    from remote_shuffle_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_index,
        write_minhash_band_index,
    )

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    delta = docs.filter(F.col("doc_id") % 10 == 9)

    pq_path = str(tmp_path / "pq_idx")
    write_minhash_band_index(
        minhash_band_index(corpus, "doc_id", "text"), pq_path, num_files=4
    )
    tbl = "mh_band_pin"
    shuffle_policy.write_bucketed(
        minhash_band_index(corpus, "doc_id", "text"),
        tbl,
        ["bkey"],
        num_buckets=8,
        sort_cols=["bkey"],
    )
    try:
        def exchanges(index_df):
            # materialize=False: the operator's eager checkpoints would
            # EXECUTE the band join before we could inspect its plan
            res = incremental_minhash_dedup(
                delta,
                corpus,
                "doc_id",
                "text",
                band_index=index_df,
                materialize=False,
            )
            # count Exchange NODES (the formatted tree mentions each node
            # twice: once in the tree, once in the detail section)
            return len(
                re.findall(r"^\(\d+\) Exchange", explain.physical_plan(res), re.M)
            )

        n_parquet = exchanges(spark.read.parquet(pq_path))
        n_bucketed = exchanges(shuffle_policy.read_bucketed(spark, tbl))
        assert n_bucketed < n_parquet, (n_bucketed, n_parquet)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.parametrize(
    "name",
    [
        "ext_gap_distribution",  # was: global rank of the corpus gap multiset
        "ext_gini_index",  # was: global row_number over the user profile
        "ext_rfm_segments",  # was: three global row_numbers over profiles
        "ext_trimmed_mean",  # was: full-group row_number per event_type
        "ext_doc_length_percentiles",  # born on histogram_cdf (r13)
        "ext_lorenz_topshare",  # born on histogram_cdf (r13)
    ],
)
def test_exact_rank_family_no_global_window(spark, sf_smoke, name):
    """r12 verdict items 2-4: the exact-rank family used to funnel its
    rank stage through an unpartitioned Window (one task at scale); the
    histogram_cdf / with_global_index rewrites must keep every Window
    partitioned."""
    df = REGISTRY[name].fn(spark, sf_smoke)
    explain.assert_no_global_window(df)


def test_global_window_detector_shapes(spark):
    """The detector itself: fires on ordered AND order-free global
    windows, stays quiet on partitioned and partition-only windows."""
    from pyspark.sql import Window

    base = spark.range(10).withColumn("g", F.col("id") % 2)
    fires = [
        base.withColumn("rn", F.row_number().over(Window.orderBy("id"))),
        base.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy())),
    ]
    quiet = [
        base.withColumn(
            "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
        ),
        base.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g"))),
    ]
    for df in fires:
        with pytest.raises(AssertionError):
            explain.assert_no_global_window(df)
    for df in quiet:
        explain.assert_no_global_window(df)


@pytest.mark.parametrize("name", ["ext_bootstrap_ci", "ext_bootstrap_ci_grouped"])
def test_bootstrap_ci_no_row_expansion(spark, sf_smoke, name):
    """r14: the Poisson-bootstrap replicates must ride 64 aggregate
    expressions in one pass, never an explode of the corpus — a Generate
    node (or any Window) in the plan means the 32x row expansion crept
    back (measured 2x slower at sf0.1)."""
    import __spark_entry__  # noqa: F401 — populate the EXT registry

    df = REGISTRY[name].fn(spark, sf_smoke)
    plan = _plan(df)
    # the stack() melt IS a Generate, but over the post-aggregation
    # replicate frame (1 or |groups| rows) — only an explode (the 32x
    # corpus expansion) is the scale bug
    assert "explode(" not in plan.lower(), plan[:800]
    explain.assert_no_global_window(df)
