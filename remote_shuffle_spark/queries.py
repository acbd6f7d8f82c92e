"""The declared query set — SURVEY.md §2.2 Q1-Q16 plus extensions.

The reference (oap-project/remote-shuffle) is a ShuffleManager plugin; the
query surface it guarantees is defined by its own test suites (SURVEY.md
§2.2 cites each).  Every query here is a shuffle-dependent DataFrame shape
the plugin's primitives carry — repartition, global sort, partial+final
aggregation, cogroup/joins, distinct, set ops — expressed declaratively so
Catalyst plans the exchanges (predicate pushdown, partial agg, AQE coalesce
/ skew-split are free).

Each query is registered with a matching DuckDB oracle SQL string; the
driver hash-compares both at sf0.01 (CORRECTNESS gate).

Determinism rules (FIXTURES.md):
- double aggregates go through DECIMAL(18,4) so the sum is exact and the
  final DOUBLE cast is bit-identical across engines;
- every multi-row result ends in an ORDER BY over a unique key set with
  null ordering pinned;
- collect_list is sorted and joined to a string;
- session timezone is UTC on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from remote_shuffle_spark.sources.tables import load_table


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}


def declared(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags)
        return fn

    return deco


# name -> latest round whose external DuckDB gate row was fully green
# (rows+schema+hash).  The driver's correctness gate checks the FIRST 50
# registry entries positionally, so `queries()` orders by this value
# ascending: never-verified queries (implicit round 0) come first, then
# the STALEST-verified rows — every round the gate re-checks the 50
# queries whose last hard verification is oldest, so a regression in a
# long-ago-verified query cannot sit undetected indefinitely.
# After each round's gate runs, refresh this dict
# (scripts/update_driver_verified.py prints the literal).
DRIVER_VERIFIED_ROUND: dict[str, int] = {
    "ext_abtest_zscore": 11,
    "ext_ann_filtered": 10,
    "ext_apply_in_arrow": 8,
    "ext_approx_top_k": 14,
    "ext_asof_join": 13,
    "ext_asof_join_forward": 12,
    "ext_asof_join_nearest": 12,
    "ext_audio_metadata": 14,
    "ext_autocorr_lag1": 12,
    "ext_band_index_stats": 11,
    "ext_bfs_levels": 13,
    "ext_bigram_counts": 9,
    "ext_bigram_lm_quality": 9,
    "ext_bitmap_intersect": 11,
    "ext_blocking_quality": 11,
    "ext_bloom_anti_join": 14,
    "ext_bloom_semi_join": 14,
    "ext_bm25_topk": 9,
    "ext_bootstrap_ci": 14,
    "ext_bootstrap_ci_grouped": 14,
    "ext_bpe_apply": 9,
    "ext_bpe_tokens": 14,
    "ext_bpe_train": 8,
    "ext_bucketed_join": 13,
    "ext_burst_detection": 10,
    "ext_cascade_delete": 11,
    "ext_char_entropy": 9,
    "ext_chi_square": 9,
    "ext_chunk_overlap": 8,
    "ext_chunk_sequences": 13,
    "ext_cms_freq": 11,
    "ext_cohort_retention": 8,
    "ext_collation": 14,
    "ext_compaction": 9,
    "ext_contamination_report": 14,
    "ext_corpus_prep_pipeline": 12,
    "ext_corr_matrix": 9,
    "ext_cumulative_crossover": 8,
    "ext_curation_pipeline": 14,
    "ext_cusum_changepoint": 11,
    "ext_data_quality_audit": 9,
    "ext_dataset_fingerprint": 11,
    "ext_dataset_mixture": 13,
    "ext_decontaminate": 9,
    "ext_decontaminate_semantic": 14,
    "ext_decontaminate_spans": 14,
    "ext_dedup_exact": 13,
    "ext_dedup_groups": 14,
    "ext_dedup_incremental": 13,
    "ext_dedup_incremental_bucketed": 11,
    "ext_dedup_incremental_minhash": 11,
    "ext_dedup_index_refresh": 11,
    "ext_dedup_keep_best": 14,
    "ext_dedup_ladder": 9,
    "ext_dedup_ladder_full": 10,
    "ext_dedup_minhash": 14,
    "ext_dedup_paragraph": 8,
    "ext_dedup_prefix_blocks": 13,
    "ext_dedup_rate_estimate": 11,
    "ext_dedup_simhash": 14,
    "ext_dedup_substring": 9,
    "ext_degree_assortativity": 11,
    "ext_doc_embedding_join": 14,
    "ext_doc_histogram": 14,
    "ext_doc_length_percentiles": 13,
    "ext_dsir_weights": 10,
    "ext_embedding_neardup": 14,
    "ext_event_debounce": 9,
    "ext_event_runs": 9,
    "ext_ewma_forecast": 11,
    "ext_fingerprint": 13,
    "ext_format_roundtrip_matrix": 11,
    "ext_freshness_canary": 12,
    "ext_freshness_weights": 12,
    "ext_funnel": 9,
    "ext_fuzzy_join": 9,
    "ext_fuzzy_join_segments": 13,
    "ext_fuzzy_join_suffix": 10,
    "ext_fuzzy_link": 13,
    "ext_gap_distribution": 11,
    "ext_gini_index": 11,
    "ext_global_index": 14,
    "ext_graph_eccentricity": 11,
    "ext_hard_negatives": 10,
    "ext_heavy_hitters": 12,
    "ext_hll_rolling_distinct": 12,
    "ext_hll_rollup": 9,
    "ext_hopping_window": 9,
    "ext_incremental_agg": 9,
    "ext_interval_overlap_join": 12,
    "ext_inverted_index": 9,
    "ext_inverted_index_compact": 11,
    "ext_inverted_index_persisted": 11,
    "ext_inverted_index_stats": 11,
    "ext_inverted_index_upsert": 11,
    "ext_ivf_cell_stats": 11,
    "ext_ivf_index_compact": 11,
    "ext_ivf_index_upsert": 11,
    "ext_ivf_pq_indexed": 11,
    "ext_ivf_pq_recall": 10,
    "ext_join_size_estimate": 14,
    "ext_join_strategy_hints": 8,
    "ext_kcore": 9,
    "ext_kfold_split": 9,
    "ext_kll_quantiles": 13,
    "ext_kll_rolling_quantile": 13,
    "ext_kmeans_cells": 9,
    "ext_knn_eval": 10,
    "ext_knn_join": 13,
    "ext_knn_join_lsh": 14,
    "ext_label_centroids": 14,
    "ext_label_entropy": 9,
    "ext_label_propagation": 8,
    "ext_lang_budget_select": 14,
    "ext_lang_id": 13,
    "ext_langid_confusion": 11,
    "ext_last_touch_attribution": 11,
    "ext_length_percentile_cut": 11,
    "ext_line_cleaning": 10,
    "ext_link_prediction": 11,
    "ext_locf_resample": 11,
    "ext_lorenz_topshare": 13,
    "ext_ltv_triangle": 11,
    "ext_malformed_quarantine": 11,
    "ext_market_basket": 8,
    "ext_market_basket_triples": 9,
    "ext_median_mad_outliers": 11,
    "ext_metadata_columns": 8,
    "ext_minhash_estimate": 11,
    "ext_mixture_temperature": 8,
    "ext_mmr_select": 10,
    "ext_multimodal_decode": 13,
    "ext_multimodal_features": 8,
    "ext_multimodal_frames": 8,
    "ext_ngram_jaccard": 13,
    "ext_ngram_novelty": 10,
    "ext_observe_metrics": 11,
    "ext_oov_rate": 11,
    "ext_out_of_order_audit": 11,
    "ext_pack_greedy": 9,
    "ext_pagerank": 13,
    "ext_pagerank_directed": 14,
    "ext_pandas_udaf": 8,
    "ext_parameterized_sql": 14,
    "ext_pareto_frontier": 11,
    "ext_per_key_sample": 9,
    "ext_pii_scrub": 14,
    "ext_pmi_collocations": 10,
    "ext_pq_recall": 9,
    "ext_python_datasource": 13,
    "ext_python_datasource_write": 8,
    "ext_quality_classifier": 8,
    "ext_quality_features": 14,
    "ext_quantile_bins": 9,
    "ext_quantized_recall": 8,
    "ext_range_join": 13,
    "ext_rare_token_docs": 11,
    "ext_recursive_cte": 13,
    "ext_repetition": 14,
    "ext_rfm_segments": 11,
    "ext_rolling_time_window": 9,
    "ext_rollup_topk": 8,
    "ext_salted_agg": 8,
    "ext_salted_join": 12,
    "ext_scalar_subquery_fanout": 14,
    "ext_scd2": 14,
    "ext_scd2_lookup": 9,
    "ext_schema_evolution": 10,
    "ext_semantic_dedup": 9,
    "ext_session_funnel": 8,
    "ext_session_paths": 11,
    "ext_session_window_dynamic": 10,
    "ext_session_window_native": 13,
    "ext_sessionize": 14,
    "ext_shard_assignment": 9,
    "ext_similarity_ivf": 14,
    "ext_similarity_lsh": 12,
    "ext_similarity_topk": 13,
    "ext_skew_report": 9,
    "ext_snapshot_diff": 9,
    "ext_snapshot_drift": 10,
    "ext_source_overlap_matrix": 11,
    "ext_span_corruption": 10,
    "ext_sql_identifier": 8,
    "ext_sql_pipe": 8,
    "ext_sql_scripting": 14,
    "ext_sql_udf": 9,
    "ext_state_transitions": 11,
    "ext_statestore_reader": 14,
    "ext_stratified_sample": 9,
    "ext_stream_available_now": 14,
    "ext_stream_cdc_upsert": 9,
    "ext_stream_content_dedup": 14,
    "ext_stream_corpus_prep": 9,
    "ext_stream_dedup": 14,
    "ext_stream_dedup_within_watermark": 14,
    "ext_stream_enrich": 9,
    "ext_stream_full_outer_join": 13,
    "ext_stream_hopping_window": 13,
    "ext_stream_incremental_runs": 8,
    "ext_stream_index_ingest": 11,
    "ext_stream_ingest_dedup": 11,
    "ext_stream_late_drop": 12,
    "ext_stream_observe": 11,
    "ext_stream_outer_join": 13,
    "ext_stream_python_datasource": 13,
    "ext_stream_session_dynamic": 10,
    "ext_stream_session_window": 13,
    "ext_stream_sessionize": 14,
    "ext_stream_stream_join": 9,
    "ext_stream_tws_available_now": 8,
    "ext_stream_tws_initial_state": 8,
    "ext_stream_tws_limiter": 8,
    "ext_stream_tws_proc_timers": 9,
    "ext_stream_tws_row_api": 8,
    "ext_stream_tws_timers": 8,
    "ext_stream_tws_ttl": 8,
    "ext_stream_tws_type_counts": 8,
    "ext_stream_window": 13,
    "ext_stream_window_filesink": 9,
    "ext_table_profile": 9,
    "ext_text_quality": 13,
    "ext_text_stats": 13,
    "ext_tf_idf": 13,
    "ext_theta_distinct": 13,
    "ext_theta_set_algebra": 13,
    "ext_time_to_convert": 9,
    "ext_time_weighted_avg": 11,
    "ext_token_budget_select": 14,
    "ext_train_split": 9,
    "ext_triangle_count": 8,
    "ext_trimmed_mean": 11,
    "ext_try_arithmetic": 8,
    "ext_udtf_polymorphic": 14,
    "ext_udtf_table_arg": 8,
    "ext_upsert": 14,
    "ext_variant_json": 13,
    "ext_vector_normalize": 14,
    "ext_video_metadata": 8,
    "ext_vocab": 13,
    "ext_weighted_quantiles": 14,
    "ext_weighted_sample": 9,
    "ext_window_rank_family": 9,
    "ext_window_zscore": 9,
    "ext_winnowing": 8,
    "ext_winsorized_mean": 14,
    "ext_xml_roundtrip": 14,
    "ext_year_over_year_cte": 14,
    "ext_zorder_key": 9,
    "ext_zorder_layout": 14,
    "q01_scan_filter_agg": 10,
    "q02_repartition": 10,
    "q03_repartition_empty": 10,
    "q04_global_sort": 10,
    "q05_groupby_aqe": 10,
    "q06_tpch_q1": 10,
    "q07_groupbykey_collect": 10,
    "q08_distinct": 10,
    "q09_count_distinct": 10,
    "q10_sort_merge_join": 10,
    "q11_broadcast_join": 10,
    "q12_semi_join": 10,
    "q13_anti_join": 10,
    "q14_multistage": 10,
    "q15_skew_groupby": 10,
    "q16_null_keys": 10,
    "q17_window_topk": 10,
    "q18_union_distinct": 10,
    "q19_intersect": 10,
    "q20_except": 10,
    "q21_rollup": 10,
    "q22_pivot": 12,
    "q23_json_scalar": 10,
    "q24_date_parts": 10,
    "q25_cube": 10,
    "q26_string_funcs": 10,
    "q27_explode_unnest": 12,
    "q28_percentiles": 12,
    "q29_approx_agg": 12,
    "q30_math_funcs": 12,
    "q31_window_running": 12,
    "q32_grouping_sets": 12,
    "q33_scalar_subquery": 12,
    "q34_array_funcs": 12,
    "q35_map_funcs": 12,
    "q36_case_null_funcs": 12,
    "q37_regex_funcs": 12,
    "q38_datetime_arith": 12,
    "q39_window_misc": 12,
    "q40_outer_join": 12,
    "q41_shipping_priority": 12,
    "q42_regional_revenue": 12,
    "q43_correlated_scalar": 12,
    "q44_exists_subquery": 12,
    "q45_not_exists": 12,
    "q46_range_frame": 12,
    "q47_value_window_funcs": 12,
    "q48_posexplode": 12,
    "q49_median_mode": 13,
    "q50_string_agg": 13,
    "q51_conditional_agg": 14,
    "q52_levenshtein": 13,
    "q53_gap_fill": 13,
    "q54_set_ops_all": 13,
    "q55_unpivot": 13,
    "q56_multi_distinct": 13,
    "q57_null_safe_join": 13,
    "q58_ignore_nulls_window": 13,
    "q59_keep_latest": 13,
    "q60_sql_entry": 13,
    "q61_lateral_join": 13,
    "q62_order_priority_exists": 10,
    "q63_conditional_priority_agg": 10,
    "q64_customer_order_histogram": 10,
    "q65_promo_revenue_share": 10,
    "q66_small_quantity_revenue": 10,
    "q67_large_volume_orders": 10,
    "q68_disjunctive_revenue": 10,
    "q69_idle_customer_balance": 12,
    "q70_grouping_id": 12,
    "q71_mom_growth": 12,
    "q72_union_by_name": 12,
    "q73_volume_shipping": 12,
    "q74_market_share": 12,
    "q75_returned_items": 12,
    "q76_product_type_revenue": 12,
    "q77_top_supplier": 12,
    "q78_waiting_suppliers": 12,
    "q79_forecast_revenue": 12,
    "q80_min_cost_supplier": 12,
    "q81_important_stock": 12,
    "q82_supplier_cnt_by_part": 12,
    "q83_promotable_parts": 12,
}

# 0 names whose LATEST gate check failed — forced to the window head
DRIVER_LATEST_FAILED: frozenset[str] = frozenset({
})

# Derived flat set (kept for tests / external callers).
DRIVER_VERIFIED: frozenset[str] = frozenset(DRIVER_VERIFIED_ROUND)


def _ordered_names() -> list[str]:
    """Registry names ordered oldest-verified-round-first: rows whose
    LATEST gate check failed lead outright (rank -1 — a known-red row must
    re-enter the window whatever its old green round says), then
    never-verified queries (round 0, oracled before rows-only), then rows
    whose last external gate check is stalest.  Keeps the driver's 50-slot
    correctness window pointed at the queries that most need a (re-)check."""
    names = list(REGISTRY)
    idx = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            -1 if n in DRIVER_LATEST_FAILED else DRIVER_VERIFIED_ROUND.get(n, 0),
            REGISTRY[n].oracle is None,
            idx[n],
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


# --- deterministic-aggregate helpers -------------------------------------

def dec(col_or_name) -> F.Column:
    """Exact fixed-point view of a 2-decimal double column (DECIMAL(18,4))."""
    c = F.col(col_or_name) if isinstance(col_or_name, str) else col_or_name
    return c.cast("decimal(18,4)")


def dsum(col_or_name, alias: str) -> F.Column:
    """Exact SUM of a double column, returned as a deterministic DOUBLE."""
    return F.sum(dec(col_or_name)).cast("double").alias(alias)


def davg(col_or_name, alias: str) -> F.Column:
    """Deterministic AVG: exact decimal sum, one double division."""
    c = F.col(col_or_name) if isinstance(col_or_name, str) else col_or_name
    return (F.sum(dec(c)).cast("double") / F.count(c)).alias(alias)


# SQL-side equivalents (DuckDB)
def SQL_DSUM(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


def SQL_DAVG(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({col}) AS {alias}"


# =========================================================================
# Q1-Q16: reference-parity query set (SURVEY.md §2.2)
# =========================================================================


@declared(
    "q01_scan_filter_agg",
    oracle=f"""
    SELECT {SQL_DSUM('l_extendedprice', 'sum_price')}, COUNT(*) AS n
    FROM lineitem WHERE l_quantity > 30
    """,
    tags=("scan", "filter", "agg"),
)
def q01_scan_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan+filter+project+aggregate — no shuffle beyond the final agg.

    Parity: the baseline query shape every reference test job implies
    (SURVEY §2.2 Q1).  The filter and the 2-column projection must push
    into the parquet scan (checked in tests/test_plans.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 30)
        .select("l_extendedprice")
        .agg(dsum("l_extendedprice", "sum_price"), F.count(F.lit(1)).alias("n"))
    )


@declared(
    "q02_repartition",
    oracle="""
    SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey
    FROM lineitem
    """,
    tags=("exchange",),
)
def q02_repartition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin repartition exchange + checksum.

    Parity: RemoteShuffleManagerSuite.scala:34-35,146-154 (repartition of
    100/10/20 partitions and a 1M-row job, verified by checksum).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.repartition(20).agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("sum_orderkey")
    )


@declared(
    "q03_repartition_empty",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    tags=("exchange", "edge"),
)
def q03_repartition_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repartition a tiny table wide → most map outputs empty.

    Parity: RemoteShuffleManagerSuite.scala:37-38,156-162 (20 rows through
    40 partitions; empty per-partition blocks must round-trip).
    """
    region = load_table(spark, sf_dir, "region")
    return region.repartition(40).select("r_regionkey", "r_name").orderBy("r_regionkey")


@declared(
    "q04_global_sort",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    tags=("sort",),
)
def q04_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort (range exchange) with skewed partition lengths + top-k.

    Parity: RemoteShuffleManagerSuite.scala:40-41,164-177 (sortBy incl.
    half-constant keys) and reduce-side sort RemoteShuffleReader.scala:126-142.
    Spark plans TakeOrderedAndProject for the LIMIT — no full materialized
    sort at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@declared(
    "q05_groupby_aqe",
    oracle=f"""
    SELECT l_orderkey, {SQL_DSUM('l_extendedprice', 'sum_price')}
    FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """,
    tags=("agg", "aqe"),
)
def q05_groupby_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-cardinality groupBy+sum under AQE partition coalescing.

    Parity: RemoteShuffleManagerSuite.scala:44-45,180-191 (SQL groupBy/sum
    with adaptive execution asserting coalesced partition count).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(dsum("l_extendedprice", "sum_price"))
        .orderBy("l_orderkey")
    )


@declared(
    "q06_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM('l_quantity', 'sum_qty')},
           {SQL_DSUM('l_extendedprice', 'sum_base_price')},
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)
             AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))
                    * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE)
             AS sum_charge,
           {SQL_DAVG('l_quantity', 'avg_qty')},
           {SQL_DAVG('l_extendedprice', 'avg_price')},
           {SQL_DAVG('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q06_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: map-side combine → partial+final hash aggregation.

    Parity: the reference's central concern — map-side combine
    (RemoteShuffleWriter.scala:55-65, RemoteSorter.insertAll:192-205) and
    reduce-side merge (RemoteAggregator.scala:35-66).  Catalyst splits
    these aggregates into partial (map-side) + final (reduce-side)
    HashAggregateExec automatically; 2 grouping keys x 8 aggregates over
    the largest table is the flagship scale shape.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # narrow operand precisions so the triple product stays within
    # DECIMAL(38) and both engines compute it exactly: (12,4)*(7,4)*(7,4)
    price = F.col("l_extendedprice").cast("decimal(12,4)")
    one = F.lit(1).cast("decimal(5,4)")
    disc_price = price * (one - F.col("l_discount").cast("decimal(6,4)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(6,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            # round the scale-12 sums back to scale 4 before the double
            # cast: a scale-4 unscaled value < 2^53 casts to double exactly
            # the same way in Spark and DuckDB (scale-12 casts differ 1 ULP)
            F.round(F.sum(disc_price), 4).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 4).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@declared(
    "q07_groupbykey_collect",
    oracle="""
    SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS events_sorted
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("agg",),
)
def q07_groupbykey_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation WITHOUT map-side combine (groupByKey/collect_list path).

    Parity: combineValuesByKey on the reduce side only
    (RemoteShuffleReader.scala:114-120) — collect_list cannot partial-merge
    meaningfully, mirroring the no-combine path.  List sorted then joined
    for deterministic hashing.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_list("event_type")), ",").alias("events_sorted"))
        .orderBy("user_id")
    )


@declared(
    "q08_distinct",
    oracle="SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    tags=("distinct",),
)
def q08_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = aggregation of unit values.

    Parity: aggregator-driven dedup in RemoteAppendOnlyMapSuite.scala:190-204.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderpriority").distinct().orderBy("o_orderpriority")


@declared(
    "q09_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
    tags=("distinct", "agg"),
)
def q09_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — expand + two-phase aggregate (two shuffles)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@declared(
    "q10_sort_merge_join",
    oracle=f"""
    SELECT COUNT(*) AS n, {SQL_DSUM('l_extendedprice', 'revenue')}
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """,
    tags=("join",),
)
def q10_sort_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle (sort-merge) join — both sides exchange on the join key.

    Parity: cogroup machinery (RemoteAppendOnlyMapSuite.scala:206-223
    "simple cogroup"); the merge hint forces the shuffled path even though
    orders would fit under the broadcast threshold at test scale, matching
    how every reference join flows through its exchange.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = orders.hint("merge").join(li, orders.o_orderkey == li.l_orderkey)
    return joined.agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "revenue"))


@declared(
    "q11_broadcast_join",
    oracle="""
    SELECT p_brand, COUNT(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("join", "broadcast"),
)
def q11_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join: small dim ships to every task — NO shuffle of the
    fact side.  At 100 TB this is the difference between a full lineitem
    exchange and none; checked in tests/test_plans.py that the plan is
    BroadcastHashJoin.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("p_brand")
    )


@declared(
    "q12_semi_join",
    oracle="""
    SELECT COUNT(*) AS n FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    tags=("join",),
)
def q12_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — parity with cogroup machinery P7."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@declared(
    "q13_anti_join",
    oracle="""
    SELECT COUNT(*) AS n FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    tags=("join",),
)
def q13_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): parts never ordered."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@declared(
    "q14_multistage",
    oracle=f"""
    SELECT c_mktsegment, {SQL_DSUM('o_totalprice', 'segment_total')}, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY segment_total DESC, c_mktsegment
    """,
    tags=("join", "agg", "sort"),
)
def q14_multistage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage shuffle chain: join → aggregate → global sort.

    Parity: chained-exchange jobs (RemoteSorterSuite.scala:46-53 spilling
    across stages in local-cluster mode).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(dsum("o_totalprice", "segment_total"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("segment_total").desc(), "c_mktsegment")
    )


@declared(
    "q15_skew_groupby",
    oracle="""
    SELECT CASE WHEN l_linenumber = 1 THEN 0 ELSE l_orderkey END AS k,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1 ORDER BY k
    """,
    tags=("agg", "skew"),
)
def q15_skew_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a heavily skewed key (one hot key ~1/6 of rows).

    Parity: half-constant-key sort test (RemoteShuffleManagerSuite.scala:
    168-170) and hash-collision suites (RemoteAppendOnlyMapSuite.scala:
    313-412).  Partial aggregation collapses the hot key map-side, so the
    skew never reaches the exchange — the scale-out answer to the
    reference's spill-first memory policy.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = F.when(F.col("l_linenumber") == 1, F.lit(0)).otherwise(F.col("l_orderkey"))
    return (
        li.select(k.cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("k")
    )


@declared(
    "q16_null_keys",
    oracle="""
    SELECT CASE WHEN value < 0.1 THEN NULL ELSE event_type END AS g,
           COUNT(*) AS cnt
    FROM events GROUP BY 1 ORDER BY g NULLS FIRST
    """,
    tags=("agg", "edge"),
)
def q16_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null grouping keys are legal and form their own group.

    Parity: RemoteAppendOnlyMapSuite.scala:166-188,413-433 (null keys and
    values through the external hash map).
    """
    ev = load_table(spark, sf_dir, "events")
    g = F.when(F.col("value") < 0.1, F.lit(None).cast("string")).otherwise(F.col("event_type"))
    return (
        ev.select(g.alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("g").asc_nulls_first())
    )


@declared(
    "q17_window_topk",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    tags=("window",),
)
def q17_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: first-3 orders per customer (top-k per group).

    The window exchange is just another shuffle through the reference's
    writer paths (SURVEY §2.3 "window functions: inherited").
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


@declared(
    "q18_union_distinct",
    oracle="""
    SELECT COUNT(*) AS n FROM (
      SELECT o_custkey AS k FROM orders
      UNION
      SELECT c_custkey AS k FROM customer
    )
    """,
    tags=("setop",),
)
def q18_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT — exchange-backed set op (SURVEY §2.3 set ops)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    u = orders.select(F.col("o_custkey").alias("k")).union(
        cust.select(F.col("c_custkey").alias("k"))
    )
    return u.distinct().agg(F.count(F.lit(1)).alias("n"))


@declared(
    "q19_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    ORDER BY nk
    """,
    tags=("setop",),
)
def q19_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT over nation keys."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nk"))
        .intersect(supp.select(F.col("s_nationkey").alias("nk")))
        .orderBy("nk")
    )


@declared(
    "q20_except",
    oracle="""
    SELECT l_partkey AS pk FROM lineitem WHERE l_quantity >= 45
    EXCEPT
    SELECT l_partkey AS pk FROM lineitem WHERE l_quantity <= 5
    ORDER BY pk
    """,
    tags=("setop",),
)
def q20_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: parts ordered in bulk but never in small quantities."""
    li = load_table(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") >= 45).select(F.col("l_partkey").alias("pk"))
    lo = li.filter(F.col("l_quantity") <= 5).select(F.col("l_partkey").alias("pk"))
    return hi.subtract(lo).orderBy("pk")  # subtract = EXCEPT DISTINCT


@declared(
    "q21_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, {SQL_DSUM('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)
def q21_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (inherited above the plugin — SURVEY §2.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@declared(
    "q23_json_scalar",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("scalar", "json"),
)
def q23_json_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (events.props) + aggregation.

    Scalar-function surface (SURVEY §2.3: inherited above the plugin).
    get_json_object stays JVM-side; exact integer sums make the oracle
    comparison bit-stable.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k_val"))
        .groupBy("event_type")
        .agg(
            F.sum("k_val").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
            (F.sum("k_val").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@declared(
    "q24_date_parts",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS n, {SQL_DSUM('o_totalprice', 'total')}
    FROM orders GROUP BY 1, 2 ORDER BY yr, mo
    """,
    tags=("scalar", "date"),
)
def q24_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + aggregation (temporal scalar surface)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total"))
        .orderBy("yr", "mo")
    )


@declared(
    "q25_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, {SQL_DSUM('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "cube"),
)
def q25_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (full subtotal lattice)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@declared(
    "q26_string_funcs",
    oracle="""
    SELECT substr(p_name, 1, 1) AS initial, COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS DOUBLE) / COUNT(*) AS avg_name_len,
           CAST(SUM(CASE WHEN contains(p_type, 'BRASS') THEN 1 ELSE 0 END) AS BIGINT) AS n_brass
    FROM part GROUP BY 1 ORDER BY initial
    """,
    tags=("scalar", "string"),
)
def q26_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: substr/length/contains + aggregation."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(F.substring("p_name", 1, 1).alias("initial"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.length("p_name")).cast("double") / F.count(F.lit(1))).alias(
                "avg_name_len"
            ),
            F.sum(
                F.when(F.col("p_type").contains("BRASS"), 1).otherwise(0)
            ).alias("n_brass"),
        )
        .orderBy("initial")
    )


@declared(
    "q27_explode_unnest",
    oracle="""
    SELECT tok, COUNT(*) AS cnt FROM (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ) GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20
    """,
    tags=("lateral", "agg"),
)
def q27_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/lateral surface: explode tokens → top-20 frequencies."""
    from remote_shuffle_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
    )


@declared(
    "q28_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q28_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (type-7, same as DuckDB
    quantile_cont); the 2-decimal inputs make quartiles land on the
    4-decimal grid, so round(4) absorbs last-ULP interpolation diffs.

    One array-percentile aggregate, not three scalar ones — the per-group
    value sort happens once instead of three times (measured ~2x at
    sf0.1; at 100 TB prefer q29's mergeable percentile_approx anyway).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .select(
            "l_returnflag",
            F.round(F.element_at("_p", 1), 4).alias("p25"),
            F.round(F.element_at("_p", 2), 4).alias("p50"),
            F.round(F.element_at("_p", 3), 4).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "q29_approx_agg",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS exact_median,
           true AS hll_within_5pct,
           true AS median_within_1pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def q29_approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, t-digest-ish percentile).

    The sketch outputs are engine-specific, so the cross-engine check is
    the *bound*, not the estimate: the query computes both the sketch and
    the exact answer in one pass and returns the exact values plus
    in-bounds booleans; the oracle recomputes the exact values and pins
    both booleans to true.  Tighter accuracy bounds are additionally
    pinned in tests/test_primitives.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # count_distinct alongside other aggregates triggers an Expand(x2)
    # plan that routes every row through every buffer twice; keeping the
    # exact-distinct count in its own (map-side-combinable) distinct
    # branch and cross-joining the two 1-row results is ~4x faster and
    # each branch scans exactly one pruned column.
    sketches = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000)
        .cast("double")
        .alias("approx_median"),
        F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").alias("exact_median"),
    )
    exact = (
        li.select("l_partkey").distinct().agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    return sketches.crossJoin(exact).select(
        "exact_parts",
        F.round("exact_median", 4).alias("exact_median"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            <= 0.01 * F.col("exact_median")
        ).alias("median_within_1pct"),
    )


@declared(
    "q30_math_funcs",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(sqrt(l_quantity)), 4) AS sum_sqrt_qty,
           ROUND(SUM(ln(l_extendedprice)), 4) AS sum_ln_price,
           ROUND(MAX(pow(l_discount, 2)), 6) AS max_disc_sq,
           CAST(SUM(abs(CAST(l_quantity AS DECIMAL(18,4)) - 25)) AS DOUBLE) AS sum_absdev
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("scalar", "math"),
)
def q30_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface: sqrt/ln/pow/abs + aggregation.

    sqrt/pow are IEEE-correctly-rounded everywhere; ln may differ by an
    ULP across libm implementations, and double-sum order differs across
    engines — round(4) over ~15k-term sums absorbs both (sum error ~1e-9
    abs, far from the 5e-5 rounding boundary).  abs-deviation runs in
    exact decimals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum(F.sqrt("l_quantity")), 4).alias("sum_sqrt_qty"),
            F.round(F.sum(F.log("l_extendedprice")), 4).alias("sum_ln_price"),
            F.round(F.max(F.pow("l_discount", F.lit(2))), 6).alias("max_disc_sq"),
            F.sum(F.abs(dec("l_quantity") - F.lit(25))).cast("double").alias("sum_absdev"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "q31_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
             AS running_total,
           lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_price
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def q31_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + lag over an ordered per-key window.

    The window exchange is one shuffle on o_custkey; per-key state is a
    single accumulator, so the shape holds at any scale (SURVEY §2.3
    window functions: inherited above the plugin's exchange).  The
    running sum runs in exact decimals so the double cast is
    bit-identical; lag copies raw values (no arithmetic).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declared(
    "q32_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, {SQL_DSUM('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "rollup"),
)
def q32_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the pruned form of cube/rollup.

    At 100 TB this is the shape to prefer over q25's CUBE: Expand
    multiplies input rows by #grouping-sets BEFORE the exchange, so
    listing only needed combinations (here 3, not cube's 4) directly
    cuts shuffle volume; still fully map-side combined.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
        )
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@declared(
    "q33_scalar_subquery",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n, {SQL_DSUM('o_totalprice', 'total_above')}
    FROM orders
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(o_totalprice)
      FROM orders
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("subquery", "agg"),
)
def q33_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price.

    DataFrame form: the 1-row aggregate is broadcast-cross-joined into
    the probe side — the idiomatic Spark translation of an uncorrelated
    scalar subquery (one tiny extra job, no driver collect, fact side
    never shuffles for the comparison).  Threshold computed with the
    exact-decimal avg so both engines compare against the identical
    double.
    """
    orders = load_table(spark, sf_dir, "orders")
    thr = orders.agg(davg("o_totalprice", "thr"))
    return (
        orders.crossJoin(F.broadcast(thr))
        .filter(F.col("o_totalprice") > F.col("thr"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total_above"))
        .orderBy("o_orderpriority")
    )


@declared(
    "q34_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           array_to_string(list_sort(list_distinct(toks))[1:3], ' ') AS first3,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'max') AS BIGINT)
             AS max_tok_len
    FROM (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    )
    ORDER BY doc_id
    """,
    tags=("scalar", "array"),
)
def q34_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface: distinct, sort, slice,
    transform, max — all JVM-side expression trees (no UDFs), the same
    machinery the EXT shingle/minhash operators build on."""
    from remote_shuffle_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        docs.select(
            "doc_id",
            F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
            F.array_join(
                F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), " "
            ).alias("first3"),
            F.array_max(F.transform(toks, F.length)).cast("long").alias("max_tok_len"),
        )
        .orderBy("doc_id")
    )


@declared(
    "q35_map_funcs",
    oracle="""
    SELECT user_id,
           COALESCE(COUNT(CASE WHEN event_type = 'click' THEN 1 END), 0) AS n_click,
           COALESCE(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS n_purchase
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("scalar", "map"),
)
def q35_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup: per-user event-type counts built as a
    map column (map_from_entries over collected pairs), probed with
    element_at.  The map stays JVM-side; the output schema is plain
    columns so the cross-engine hash is stable (DuckDB's MAP type
    wouldn't hash-compare)."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
            ).alias("type_counts")
        )
        .select(
            "user_id",
            F.coalesce(F.element_at("type_counts", F.lit("click")), F.lit(0)).alias("n_click"),
            F.coalesce(F.element_at("type_counts", F.lit("purchase")), F.lit(0)).alias(
                "n_purchase"
            ),
        )
        .orderBy("user_id")
    )


@declared(
    "q36_case_null_funcs",
    oracle=f"""
    SELECT CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN NULLIF(p_brand, 'Brand#1') IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_brand1,
           {SQL_DSUM("greatest(p_retailprice, 1000.0)", 'sum_floor_price')},
           {SQL_DSUM("least(p_retailprice, 1500.0)", 'sum_cap_price')}
    FROM part GROUP BY 1 ORDER BY size_class
    """,
    tags=("scalar", "conditional"),
)
def q36_case_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null scalar surface: CASE, NULLIF, GREATEST/LEAST —
    pure expression work that must stay inside whole-stage codegen."""
    part = load_table(spark, sf_dir, "part")
    size_class = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
    )
    return (
        part.groupBy(size_class.alias("size_class"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.nullif(F.col("p_brand"), F.lit("Brand#1")).isNull(), 1).otherwise(0)
            ).alias("n_brand1"),
            dsum(F.greatest("p_retailprice", F.lit(1000.0)), "sum_floor_price"),
            dsum(F.least("p_retailprice", F.lit(1500.0)), "sum_cap_price"),
        )
        .orderBy("size_class")
    )


@declared(
    "q37_regex_funcs",
    oracle="""
    SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           COUNT(*) AS n,
           CAST(SUM(strlen(regexp_replace(p_name, '[aeiou]', '', 'g'))) AS BIGINT)
             AS total_consonant_len
    FROM part GROUP BY 1 ORDER BY first_word
    """,
    tags=("scalar", "regex"),
)
def q37_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: extract + replace, JVM-side.  Pattern kept
    in the common subset of Java regex and RE2 so both engines match."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.regexp_replace("p_name", "[aeiou]", ""))).alias(
                "total_consonant_len"
            ),
        )
        .orderBy("first_word")
    )


@declared(
    "q38_datetime_arith",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           COUNT(*) AS n,
           CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-12-31')) AS BIGINT)
             AS max_days_to_eoy,
           {SQL_DSUM('o_totalprice', 'total')}
    FROM orders GROUP BY 1 ORDER BY ym
    """,
    tags=("scalar", "date"),
)
def q38_datetime_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime arithmetic surface: formatting, truncation-to-month via
    format, day differencing against a fixed date (UTC session pinned on
    both engines)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("ym"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.datediff(F.lit("1999-12-31").cast("date"), F.col("o_orderdate").cast("date"))
            ).cast("long").alias("max_days_to_eoy"),
            dsum("o_totalprice", "total"),
        )
        .orderBy("ym")
    )


@declared(
    "q39_window_misc",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           first_value(o_orderkey) OVER w AS cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
    tags=("window",),
)
def q39_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window surface: ntile, percent_rank, cume_dist,
    first_value — one exchange on the partition key; percent_rank and
    cume_dist are exact small-integer ratios, so the doubles are
    bit-identical across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.first("o_orderkey").over(w).alias("cheapest"),
        )
        .orderBy("o_orderkey")
    )


@declared(
    "q40_outer_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_customers_without_orders,
           {SQL_DSUM('o_totalprice', 'seg_total')}
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment NULLS FIRST
    """,
    tags=("join", "outer"),
)
def q40_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with null-extension accounting: customers keep
    their row even with no orders (outer joins ride the same exchanges as
    inner — SURVEY §2.3 joins inherited; the null side is what the
    reference's cogroup machinery models as empty iterators)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).alias("n_customers_without_orders"),
            dsum("o_totalprice", "seg_total"),
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_first())
    )


@declared(
    "q22_pivot",
    oracle="""
    SELECT l_returnflag,
           COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def q22_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (conditional aggregation) with explicit value list."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F"])
        .orderBy("l_returnflag")
    )


# =========================================================================
# Q41+: round-2 surface widening — multi-join chains, correlated
# subqueries, value-window frames, generators, gap fill
# =========================================================================


@declared(
    "q41_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q41_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join chain with per-side filters → agg →
    top-k.  Filters push into each scan BEFORE the joins (Catalyst
    predicate pushdown); the orderBy+limit plans as TakeOrdered, never a
    global sort.  Revenue uses the exact-decimal product (see q06)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    price = F.col("l_extendedprice").cast("decimal(12,4)")
    one = F.lit(1).cast("decimal(5,4)")
    revenue = price * (one - F.col("l_discount").cast("decimal(6,4)"))
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 4).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@declared(
    "q42_regional_revenue",
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
                JOIN supplier ON s_suppkey   = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("join", "agg"),
)
def q42_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join chain with a non-key equality on the
    supplier side (local-supplier constraint).  region/nation broadcast
    (tiny dims); customer/orders/lineitem shuffle on their join keys;
    Catalyst orders the joins from the filtered dimension outward."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(12,4)")
    one = F.lit(1).cast("decimal(5,4)")
    revenue = price * (one - F.col("l_discount").cast("decimal(6,4)"))
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue), 4).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("n_name")
    )


@declared(
    "q43_correlated_scalar",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l2.l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    """,
    tags=("subquery", "agg"),
)
def q43_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (rows below half their
    part's average quantity).  Expressed decorrelated — per-part averages
    are ONE combinable aggregation joined back on the part key — which is
    exactly the plan Catalyst rewrites the correlated form into; the
    average uses the exact decimal sum so borderline rows can't flip on
    summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity")).alias("_avg_qty")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("_avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum("l_extendedprice", "small_revenue"),
        )
    )


@declared(
    "q44_exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("subquery", "join", "agg"),
)
def q44_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a non-equi conjunct
    (l_shipdate > o_orderdate) — plans as a left-semi join whose
    condition carries both the key equality and the range predicate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")
    filtered = orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    return (
        filtered.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@declared(
    "q45_not_exists",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_idle, CAST(MIN(c_custkey) AS BIGINT) AS min_custkey
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("subquery", "join", "agg"),
)
def q45_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS (customers with no orders) as a left-anti join — the
    subquery face of the anti-join exchange (q13 is the join-API face)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_idle"), F.min("c_custkey").alias("min_custkey"))
        .orderBy("c_mktsegment")
    )


@declared(
    "q46_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS near_total
    FROM orders ORDER BY o_orderkey
    """,
    tags=("window", "frame"),
)
def q46_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame (RANGE BETWEEN): per customer, the sum of
    order totals within 10000 of the current order's price.  RANGE frames
    include ALL peers of the current value, so the result is deterministic
    under price ties (a ROWS frame would not be)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, W.currentRow)
    )
    return (
        orders.select(
            "o_orderkey",
            F.sum(dec("o_totalprice")).over(w).cast("double").alias("near_total"),
        )
        .orderBy("o_orderkey")
    )


@declared(
    "q47_value_window_funcs",
    oracle="""
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS first_k,
           last_value(o_orderkey)  OVER w AS last_k,
           nth_value(o_orderkey, 3) OVER w AS third_k
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_orderkey
    """,
    tags=("window",),
)
def q47_value_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over an explicit unbounded ROWS frame (the
    default RANGE frame would make last_value the current row — the
    classic cross-engine trap, pinned here by spelling the frame out)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        orders.select(
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_k"),
            F.last("o_orderkey").over(w).alias("last_k"),
            F.nth_value("o_orderkey", 3).over(w).alias("third_k"),
        )
        .orderBy("o_orderkey")
    )


@declared(
    "q48_posexplode",
    oracle="""
    SELECT p_partkey,
           CAST(unnest(range(len(string_split(p_name, ' ')))) AS INTEGER) AS pos,
           unnest(string_split(p_name, ' ')) AS word
    FROM part ORDER BY p_partkey, pos
    """,
    tags=("generator", "lateral"),
)
def q48_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator with ordinality: posexplode ≡ UNNEST WITH ORDINALITY
    (DuckDB zips parallel unnests).  One narrow generate — no shuffle."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
        )
        .orderBy("p_partkey", "pos")
    )


@declared(
    "q49_median_mode",
    oracle="""
    SELECT l_returnflag,
           CAST(median(l_quantity) AS DOUBLE) AS med_qty,
           CAST(mode(l_linenumber) AS INTEGER) AS mode_line,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q49_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated) and mode per group.  l_quantity values
    are unit-spaced so the even-count interpolation is exact in doubles;
    the mode column (l_linenumber) has a strictly decreasing frequency
    distribution, so the winner is unique and tie-break rules never
    engage."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.median("l_quantity").alias("med_qty"),
            F.mode("l_linenumber").alias("mode_line"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@declared(
    "q50_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("agg", "string"),
)
def q50_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect_list has
    no intra-group order guarantee, so the list is array_sort'ed before
    joining — the deterministic form of GROUP_CONCAT."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("n_regionkey")
    )


@declared(
    "q51_conditional_agg",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("agg", "conditional"),
)
def q51_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: count_if, bool_and/bool_or
    (SQL EVERY/ANY), and the CASE-sum filter form — all combinable, all
    map-side-partial."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)).alias("n_low"),
        )
        .orderBy("o_orderstatus")
    )


@declared(
    "q52_levenshtein",
    oracle="""
    SELECT levenshtein(p_brand, 'Brand#13') AS dist, COUNT(*) AS n,
           CAST(MIN(p_partkey) AS BIGINT) AS min_part
    FROM part GROUP BY 1 ORDER BY dist
    """,
    tags=("string", "similarity"),
)
def q52_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar function (string similarity surface) grouped
    into a distance histogram."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.levenshtein("p_brand", F.lit("Brand#13")).alias("dist"), "p_partkey")
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n"), F.min("p_partkey").alias("min_part"))
        .orderBy("dist")
    )


@declared(
    "q53_gap_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS hi
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), counts AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour, COALESCE(c.n, 0) AS n
    FROM hours h LEFT JOIN counts c USING (hour)
    ORDER BY hour
    """,
    tags=("timeseries", "generator", "join"),
)
def q53_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a generated hourly spine left-joined to
    hourly event counts, empty hours kept as zero.  The spine comes from
    sequence() over the min/max bounds (one tiny agg broadcast back),
    so no driver-side loop builds it."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    counts = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        hours.join(counts, "hour", "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("_n", F.lit(0)).alias("n"),
        )
        .orderBy("hour")
    )


@declared(
    "q54_set_ops_all",
    oracle="""
    WITH x AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    ), y AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT (SELECT COUNT(*) FROM x) AS n_except_all,
           (SELECT CAST(COALESCE(SUM(k), 0) AS BIGINT) FROM x) AS except_checksum,
           (SELECT COUNT(*) FROM y) AS n_intersect_all,
           (SELECT CAST(COALESCE(SUM(k), 0) AS BIGINT) FROM y) AS intersect_checksum
    """,
    tags=("setop",),
)
def q54_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops (EXCEPT ALL / INTERSECT ALL): multiplicity-aware
    variants — row counts, not distinct sets, must survive — lowered by
    Catalyst to per-key count aggregation + replication (the same
    exchange as q18-q20's distinct forms)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    ex = o.exceptAll(f).agg(
        F.count(F.lit(1)).alias("n_except_all"),
        F.coalesce(F.sum("k"), F.lit(0)).alias("except_checksum"),
    )
    inter = f.intersectAll(o).agg(
        F.count(F.lit(1)).alias("n_intersect_all"),
        F.coalesce(F.sum("k"), F.lit(0)).alias("intersect_checksum"),
    )
    return ex.crossJoin(inter)


@declared(
    "q55_unpivot",
    oracle="""
    SELECT c_custkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer
    )
    ORDER BY c_custkey, metric
    """,
    tags=("unpivot", "reshape"),
)
def q55_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (wide → long reshape, the inverse of q22's pivot):
    a narrow generator — each input row fans out to one row per value
    column, no shuffle until the caller aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_nationkey").cast("double").alias("nationkey"),
        )
        .unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
        .orderBy("c_custkey", "metric")
    )


@declared(
    "q56_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT o_orderpriority) AS n_prios,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("agg", "distinct"),
)
def q56_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over different columns in one GROUP
    BY — Catalyst plans this with Expand (one replicated stream per
    distinct set), the multi-distinct exchange shape q09's single
    count-distinct doesn't exercise."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct("o_orderpriority").alias("n_prios"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@declared(
    "q57_null_safe_join",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN value < 0.1 THEN NULL ELSE event_type END AS g, value
      FROM events
    ), a AS (
      SELECT g, COUNT(*) AS n_a FROM tagged GROUP BY g
    ), b AS (
      SELECT g, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_b
      FROM tagged GROUP BY g
    )
    SELECT a.g, a.n_a, b.sum_b
    FROM a JOIN b ON a.g IS NOT DISTINCT FROM b.g
    ORDER BY a.g NULLS FIRST
    """,
    tags=("join", "null"),
)
def q57_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of dropping — the join-side face of q16's
    null grouping keys.  Both sides aggregate first so the null group is
    a single row per side."""
    ev = load_table(spark, sf_dir, "events")
    g = F.when(F.col("value") < 0.1, None).otherwise(F.col("event_type"))
    tagged = ev.select(g.alias("g"), "value")
    a = tagged.groupBy("g").agg(F.count(F.lit(1)).alias("n_a"))
    b = tagged.groupBy("g").agg(dsum("value", "sum_b"))
    return (
        a.join(b, a["g"].eqNullSafe(b["g"]))
        .select(a["g"].alias("g"), "n_a", "sum_b")
        .orderBy(F.col("g").asc_nulls_first())
    )


@declared(
    "q58_ignore_nulls_window",
    oracle="""
    SELECT event_id,
           last_value(view_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_view_value
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'view' THEN value END AS view_value
      FROM events
    )
    ORDER BY event_id
    """,
    tags=("window", "null"),
)
def q58_ignore_nulls_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window fill: each event picks up the user's most
    recent prior 'view' value (last_value IGNORE NULLS over an
    unbounded-to-1-preceding frame — the windowed form of a backward
    as-of self-join, and the null-skipping surface lead/lag/first/last
    share)."""
    ev = load_table(spark, sf_dir, "events")
    vv = F.when(F.col("event_type") == "view", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        ev.select("event_id", "user_id", "ts", vv.alias("view_value"))
        .select(
            "event_id",
            F.last("view_value", ignorenulls=True).over(w).alias("prev_view_value"),
        )
        .orderBy("event_id")
    )


@declared(
    "q59_keep_latest",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    WHERE rn = 1 ORDER BY o_custkey
    """,
    tags=("window", "dedup"),
)
def q59_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (the CDC/compaction workhorse): one
    row_number window over (key, recency desc) → rn = 1.  One exchange
    on the key; at scale prefer this over groupBy+join-back (one shuffle
    instead of two) and over max_by structs when the full row is wide."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_orderdate", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy("o_custkey")
    )


@declared(
    "q60_sql_entry",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           COUNT(*) AS n_orders,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("sql", "agg", "filter-clause"),
)
def q60_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() entry path: temp views + SQL text with the
    standard FILTER (WHERE …) aggregate clause — same Catalyst plan as
    the DataFrame API (every other declared query), proving the engine's
    SQL front door end-to-end."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_mktsegment,
               COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               COUNT(*) AS n_orders,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM v_customer JOIN v_orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )


@declared(
    "q61_lateral_join",
    oracle="""
    SELECT n.n_name, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
    FROM nation n, LATERAL (
      SELECT o.o_orderkey, o.o_totalprice
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
    ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey
    """,
    tags=("sql", "lateral", "topk"),
)
def q61_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (top-2 orders per nation), via SQL
    text.  Catalyst decorrelates the per-row LIMIT into a window
    rank-filter — the same plan the DataFrame row_number form produces,
    but exercising the parser/decorrelation path."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT n.n_name, t.o_orderkey, CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
        FROM v_nation n, LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 2
        ) t
        ORDER BY n.n_name, t.o_totalprice DESC, t.o_orderkey
        """
    )
