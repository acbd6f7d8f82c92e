"""Pipeline-utility operators: split stability, row indexing, binning,
vocab/encoding, stratified sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from remote_shuffle_spark.operators import pipeline as P
from remote_shuffle_spark.sources.tables import load_table


def test_deterministic_split_proportions_and_stability(spark, sf_correct):
    docs = load_table(spark, sf_correct, "documents")
    split = P.deterministic_split(
        docs, "doc_id", weights={"train": 0.8, "valid": 0.1, "test": 0.1}
    )
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert counts["train"] / n == pytest.approx(0.8, abs=0.08)
    # stability: same assignment on re-run and under different partitioning
    again = P.deterministic_split(
        docs.repartition(7), "doc_id", weights={"train": 0.8, "valid": 0.1, "test": 0.1}
    )
    a = {r.doc_id: r.split for r in split.select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in again.select("doc_id", "split").collect()}
    assert a == b
    # growth stability: a subset corpus assigns identically
    subset = P.deterministic_split(
        docs.filter(F.col("doc_id") < 100), "doc_id",
        weights={"train": 0.8, "valid": 0.1, "test": 0.1},
    )
    for r in subset.select("doc_id", "split").collect():
        assert a[r.doc_id] == r.split


def test_deterministic_split_rejects_bad_weights(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    with pytest.raises(ValueError):
        P.deterministic_split(docs, "doc_id", weights={"a": 0.5, "b": 0.3})


def test_with_global_index(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").repartition(13)
    idx = P.with_global_index(docs, order_by=["doc_id"])
    rows = idx.select("row_index").collect()
    got = sorted(r.row_index for r in rows)
    assert got == list(range(docs.count()))


def test_with_global_index_requires_order_by(spark, sf_smoke):
    """There is no unordered numbering: the per-row Python RDD fallback
    is gone, so a call without ``order_by`` fails before any job runs."""
    docs = load_table(spark, sf_smoke, "documents")
    with pytest.raises(TypeError, match="order_by"):
        P.with_global_index(docs)


def test_quantile_buckets_equidepth(spark, sf_correct):
    li = load_table(spark, sf_correct, "lineitem")
    b = P.quantile_buckets(li, "l_extendedprice", num_buckets=10)
    counts = [r.n for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).orderBy("bucket").collect()]
    assert len(counts) == 10
    n = sum(counts)
    for c in counts:
        assert abs(c - n / 10) / (n / 10) < 0.1  # equi-depth within 10%
    # bucket assignment is monotone in the value
    sample = b.select("l_extendedprice", "bucket").orderBy("l_extendedprice").collect()
    assert all(a.bucket <= c.bucket for a, c in zip(sample, sample[1:]))


def test_quantile_buckets_exact_mode(spark, sf_correct):
    li = load_table(spark, sf_correct, "lineitem")
    b = P.quantile_buckets(li, "l_extendedprice", num_buckets=4, exact=True)
    counts = [
        r.n
        for r in b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).orderBy("bucket").collect()
    ]
    n = sum(counts)
    # exact interpolated cutpoints → quartiles within one row of n/4
    assert len(counts) == 4
    for c in counts:
        assert abs(c - n / 4) <= 1


def test_build_vocab_and_encode_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c c"), (3, "a a a z")], ["doc_id", "text"]
    )
    vocab = P.build_vocab(df, "text")
    v = {r.token: (r["count"], r.token_id) for r in vocab.collect()}  # Row.count is the tuple method
    # a:5 c:3 b:2 z:1 → ids 0,1,2,3
    assert v == {"a": (5, 0), "c": (3, 1), "b": (2, 2), "z": (1, 3)}
    enc = {r.doc_id: r.token_ids for r in P.encode_tokens(df, "doc_id", "text", vocab).collect()}
    assert enc == {1: [0, 2, 1, 0], 2: [2, 1, 1], 3: [0, 0, 0, 3]}


def test_build_vocab_min_count_and_max_size(spark):
    df = spark.createDataFrame([(1, "a a b c")], ["doc_id", "text"])
    assert {r.token for r in P.build_vocab(df, "text", min_count=2).collect()} == {"a"}
    assert P.build_vocab(df, "text", max_size=2).count() == 2


def test_stratified_sample(spark, sf_correct):
    ev = load_table(spark, sf_correct, "events")
    samp = P.stratified_sample(
        ev, "event_type", fractions={"click": 0.5, "view": 0.1}, id_col="event_id"
    )
    got = {r.event_type: r.n for r in samp.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {"click", "view"}
    assert got["click"] / base["click"] == pytest.approx(0.5, abs=0.1)
    assert got["view"] / base["view"] == pytest.approx(0.1, abs=0.05)
    # determinism under repartitioning
    again = P.stratified_sample(
        ev.repartition(5), "event_type", fractions={"click": 0.5, "view": 0.1}, id_col="event_id"
    )
    assert {r.event_id for r in again.select("event_id").collect()} == {
        r.event_id for r in samp.select("event_id").collect()
    }


def test_chunk_sequences_matches_naive_prefix_sum(spark, sf_smoke):
    docs = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("w"))
    )
    out = P.chunk_sequences(docs, "doc_id", "w", budget=100).collect()
    rows = sorted(((r.doc_id, r.w, r.start_offset, r.seq_id) for r in out))
    # naive oracle: running offset in doc_id order
    running = 0
    for doc_id, w, start, seq in rows:
        assert start == running
        assert seq == running // 100
        running += w


def test_pack_sequences_invariants(spark, sf_smoke):
    docs = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("w"))
    )
    budget = 120
    out = P.pack_sequences(docs, "doc_id", "w", budget=budget).collect()
    assert len(out) == docs.count()  # every doc packed exactly once
    by_seq: dict[int, list] = {}
    for r in out:
        by_seq.setdefault(r.seq_id, []).append(r)
    for seq_id, rows in by_seq.items():
        rows.sort(key=lambda r: r.seq_pos)
        assert [r.seq_pos for r in rows] == list(range(len(rows)))
        total = sum(r.w for r in rows)
        # budget respected unless the sequence is a single oversize doc
        assert total <= budget or len(rows) == 1
    # determinism across partitioning choices
    out2 = P.pack_sequences(docs.repartition(7), "doc_id", "w", budget=budget).collect()
    assert {(r.doc_id, r.seq_id, r.seq_pos) for r in out} == {
        (r.doc_id, r.seq_id, r.seq_pos) for r in out2
    }


def test_pack_sequences_oversize_doc_isolated(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 500), (3, 10)], "id long, w long"
    )
    out = P.pack_sequences(df, "id", "w", budget=100).collect()
    seq_of = {r.id: r.seq_id for r in out}
    # the oversize doc sits alone in its sequence
    assert sum(1 for r in out if r.seq_id == seq_of[2]) == 1


def test_interleave_datasets_deterministic_and_tagged(spark, sf_correct):
    docs = load_table(spark, sf_correct, "documents")
    mix = P.interleave_datasets(
        {
            "a": (docs.filter(F.col("source") == "src0"), 1.0),
            "b": (docs.filter(F.col("source") == "src1"), 0.4),
        },
        id_col="doc_id",
    )
    rows = mix.select("doc_id", "mixture_source").collect()
    n_a = sum(1 for r in rows if r.mixture_source == "a")
    n_b = sum(1 for r in rows if r.mixture_source == "b")
    assert n_a == docs.filter(F.col("source") == "src0").count()  # rate 1.0 keeps all
    assert 0 < n_b < docs.filter(F.col("source") == "src1").count()
    # stability: same selection on re-run / repartition
    mix2 = P.interleave_datasets(
        {
            "a": (docs.filter(F.col("source") == "src0").repartition(5), 1.0),
            "b": (docs.filter(F.col("source") == "src1").repartition(5), 0.4),
        },
        id_col="doc_id",
    )
    assert {(r.doc_id, r.mixture_source) for r in rows} == {
        (r.doc_id, r.mixture_source) for r in mix2.select("doc_id", "mixture_source").collect()
    }
    with pytest.raises(ValueError):
        P.interleave_datasets({"x": (docs, 1.5)}, id_col="doc_id")


def test_with_global_index_jvm_path_matches_driver_ranks(spark, sf_smoke):
    from remote_shuffle_spark.operators import pipeline as P
    from remote_shuffle_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_smoke, "documents").select("doc_id")
    ordered = docs.repartitionByRange(5, F.col("doc_id")).sortWithinPartitions("doc_id")
    jvm = {r.doc_id: r.row_index for r in P.with_global_index(ordered, order_by=["doc_id"]).collect()}
    ranks = {d: i for i, d in enumerate(sorted(r.doc_id for r in docs.collect()))}
    assert jvm == ranks
    # contiguous 0..n-1 and monotone in doc_id
    n = len(jvm)
    assert sorted(jvm.values()) == list(range(n))
    ids_sorted = sorted(jvm)
    assert [jvm[i] for i in ids_sorted] == list(range(n))


def test_with_global_index_jvm_path_no_python_stage(spark, sf_smoke):
    from remote_shuffle_spark.operators import pipeline as P
    from remote_shuffle_spark.plans import explain
    from remote_shuffle_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_smoke, "documents").select("doc_id")
    ordered = docs.repartitionByRange(5, F.col("doc_id")).sortWithinPartitions("doc_id")
    plan = explain.physical_plan(P.with_global_index(ordered, order_by=["doc_id"]))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_weighted_sample_k_properties(spark):
    rows = [(i, 1 if i < 90 else 1000) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "w"])
    samp = P.weighted_sample_k(df, k=10, weight_col="w", id_col="id")
    got = [r.id for r in samp.collect()]
    assert len(got) == len(set(got)) == 10
    # the ten 1000x-weight rows should dominate the sample
    heavy = sum(1 for i in got if i >= 90)
    assert heavy >= 8
    # deterministic replay
    again = [r.id for r in P.weighted_sample_k(df, k=10, weight_col="w", id_col="id").collect()]
    assert sorted(got) == sorted(again)


def test_weighted_sample_k_nonpositive_weights_dropped(spark):
    df = spark.createDataFrame([(1, 0), (2, -5), (3, 7)], ["id", "w"])
    got = [r.id for r in P.weighted_sample_k(df, k=3, weight_col="w", id_col="id").collect()]
    assert got == [3]


def test_temperature_mixture_sqrt_weights(spark):
    """sqrt-temperature upweights the small source: with counts 100 and
    400, proportional shares are .2/.8 but sqrt shares are 10/30 =
    1/3 and 2/3; weights are exact scaled integers."""
    from remote_shuffle_spark.operators.pipeline import temperature_mixture

    rows = [(i, "small" if i < 100 else "big") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r.source: r for r in temperature_mixture(df, "source").collect()}
    assert got["small"].weight_scaled == 10_000_000
    assert got["big"].weight_scaled == 20_000_000
    assert abs(got["small"].share - 1 / 3) < 1e-12
    assert abs(got["big"].share - 2 / 3) < 1e-12


def test_assign_training_shards_balance_bound(spark):
    """Serpentine dealing over descending weights: max−min shard load is
    bounded by one document's weight, and every shard gets the same doc
    count (n divisible by shards here)."""
    from remote_shuffle_spark.operators.pipeline import assign_training_shards

    df = spark.createDataFrame(
        [(i, (i * 37) % 500 + 10) for i in range(160)], "doc_id long, w long"
    )
    out = assign_training_shards(df, "doc_id", "w", n_shards=8)
    loads = {
        r.shard: (r.n, r.s)
        for r in out.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("s"))
        .collect()
    }
    assert set(loads) == set(range(8))
    counts = [n for n, _ in loads.values()]
    sums = [s for _, s in loads.values()]
    assert max(counts) == min(counts) == 20
    max_w = df.agg(F.max("w")).collect()[0][0]
    assert max(sums) - min(sums) <= max_w


def test_assign_training_shards_serpentine_order(spark):
    """Ranks 0..15 on 4 shards deal 0,1,2,3 then reverse 3,2,1,0 …"""
    from remote_shuffle_spark.operators.pipeline import assign_training_shards

    # weights descending with rank == doc_id for easy inspection
    df = spark.createDataFrame(
        [(i, 1000 - i) for i in range(16)], "doc_id long, w long"
    )
    got = {
        r.doc_id: r.shard
        for r in assign_training_shards(df, "doc_id", "w", n_shards=4).collect()
    }
    assert got == {
        0: 0, 1: 1, 2: 2, 3: 3,
        4: 3, 5: 2, 6: 1, 7: 0,
        8: 0, 9: 1, 10: 2, 11: 3,
        12: 3, 13: 2, 14: 1, 15: 0,
    }


def test_running_total_inclusive_desc_order(spark):
    """Exact inclusive cumsum in (score desc, id) order, multi-partition."""
    rows = [(i, (i * 7) % 5 + 1, (i * 13) % 4) for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["id", "w", "score"])
    out = {
        r.id: r.cum
        for r in P.running_total(
            df, "w", [F.col("score").desc(), F.col("id")], num_partitions=3
        ).collect()
    }
    expected, cum = {}, 0
    for i, w, _s in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += w
        expected[i] = cum
    assert out == expected


def test_running_total_no_global_window(spark):
    from remote_shuffle_spark.plans import explain

    df = spark.createDataFrame([(1, 2, 3)], ["id", "w", "score"])
    out = P.running_total(df, "w", [F.col("score").desc(), F.col("id")])
    explain.assert_no_global_window(out)


def test_running_total_partitioned_with_null_group(spark):
    """Per-group cums restart per stratum; a NULL stratum is a real
    stratum (null-safe offset join), groups split across partitions sum
    correctly."""
    rows = [(i, 1 + (i % 3), ["a", "b", None][i % 3], (i * 13) % 4) for i in range(1, 31)]
    df = spark.createDataFrame(rows, ["id", "w", "grp", "score"])
    out = {
        r.id: r.cum
        for r in P.running_total(
            df,
            "w",
            [F.col("score").desc(), F.col("id")],
            partition_by=["grp"],
            num_partitions=4,
        ).collect()
    }
    expected = {}
    for g in ("a", "b", None):
        cum = 0
        for i, w, grp, _s in sorted(
            (r for r in rows if r[2] == g), key=lambda r: (-r[3], r[0])
        ):
            cum += w
            expected[i] = cum
    assert out == expected
