"""Decontamination, inverted index, stratified-exact sampling, and
exact-decimal correlation semantics on crafted inputs."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from remote_shuffle_spark.operators.decontam import contamination_hits
from remote_shuffle_spark.operators.pipeline import stratified_sample_exact
from remote_shuffle_spark.operators.stats import hll_distinct_rollup, pairwise_corr
from remote_shuffle_spark.operators.text import inverted_index


def test_contamination_planted(spark):
    # doc 10 contains bench doc 1's 4-gram verbatim; doc 11 shares nothing
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (10, "xx alpha beta gamma delta yy"),
            (11, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    hits = contamination_hits(train, bench, id_col="doc_id", text_col="text", n=4).collect()
    assert {r.doc_id: r.n_hits for r in hits} == {10: 1}


def test_contamination_short_doc_whole_text(spark):
    # bench doc shorter than n matches via its whole-text shingle
    bench = spark.createDataFrame([(1, "rare pair")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(10, "a b rare pair c d"), (11, "rare alone here x")], ["doc_id", "text"]
    )
    # n=2: bench emits the bigram "rare pair"
    hits = contamination_hits(train, bench, id_col="doc_id", text_col="text", n=2).collect()
    assert {r.doc_id for r in hits} == {10}


def test_contamination_broadcast_plan(spark):
    bench = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])
    train = spark.createDataFrame([(10, "alpha beta gamma delta x")], ["doc_id", "text"])
    plan = contamination_hits(
        train, bench, id_col="doc_id", text_col="text", n=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_contamination_matches_planted(spark):
    """Localization view: the matched grams surface, capped and sorted."""
    from remote_shuffle_spark.operators.decontam import contamination_matches

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            # contains two distinct bench 4-grams
            (10, "alpha beta gamma delta epsilon zz"),
            (11, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: (r.n_hits, r.grams_head)
        for r in contamination_matches(
            train, bench, id_col="doc_id", text_col="text", n=4, head=1
        ).collect()
    }
    assert set(rows) == {10}
    n_hits, head = rows[10]
    assert n_hits == 2
    # head=1 keeps only the lexicographically first matched gram
    assert head == "alpha beta gamma delta"


def test_semantic_contamination_planted_paraphrase(spark):
    """A train vector that is a small perturbation of an eval vector (a
    paraphrase in embedding space) is flagged; an orthogonal one is not —
    and the n-gram detector would see NOTHING here (no text at all)."""
    from remote_shuffle_spark.operators.decontam import semantic_contamination_hits
    from remote_shuffle_spark.operators.similarity import seed_centroids

    # eval "benchmark" vectors along axes 0 and 1
    evalset = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (17, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    train = spark.createDataFrame(
        [
            (10, [0.98, 0.02, 0.0, 0.0]),   # near-copy of eval 0 -> flagged
            (11, [0.0, 0.0, 1.0, 0.0]),     # orthogonal -> clean
            (12, [0.03, 0.99, 0.0, 0.0]),   # near-copy of eval 17 -> flagged
        ],
        ["vec_id", "embedding"],
    )
    # centroids = the two eval axes, so each paraphrase lands in its
    # original's cell (seeding from the union would instead pick vecs 0
    # and 10 — two near-identical centroids that split the planted pair)
    cents = seed_centroids(evalset, "vec_id", "embedding", k=2)
    hits = semantic_contamination_hits(
        train, evalset, cents, id_col="vec_id", vec_col="embedding", threshold=0.9
    ).collect()
    assert {r.vec_id: r.n_hits for r in hits} == {10: 1, 12: 1}


def test_semantic_contamination_eval_cap_fails_loud(spark):
    from remote_shuffle_spark.operators.decontam import semantic_contamination_hits
    from remote_shuffle_spark.operators.similarity import seed_centroids
    import pytest

    evalset = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], ["vec_id", "embedding"]
    )
    cents = seed_centroids(evalset, "vec_id", "embedding", k=2)
    with pytest.raises(ValueError, match="max_eval_rows"):
        semantic_contamination_hits(
            evalset, evalset, cents, id_col="vec_id", vec_col="embedding",
            max_eval_rows=3,
        )


def test_semantic_contamination_no_corpus_shuffle(spark):
    """The train side must stay narrow: assignment + mapInPandas, no
    Exchange originating from the corpus (the eval side is a driver-side
    broadcast, not a join)."""
    from remote_shuffle_spark.operators.decontam import semantic_contamination_hits
    from remote_shuffle_spark.operators.similarity import seed_centroids

    evalset = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    train = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.1, 0.9])], ["vec_id", "embedding"]
    )
    cents = seed_centroids(evalset, "vec_id", "embedding", k=2)
    out = semantic_contamination_hits(
        train, evalset, cents, id_col="vec_id", vec_col="embedding", threshold=0.8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert {r.vec_id for r in out.collect()} == {10, 11}


def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(3, "apple banana"), (1, "apple"), (2, "apple banana apple")],
        ["doc_id", "text"],
    )
    rows = {
        r.token: (r.df, r.postings_head)
        for r in inverted_index(df, "doc_id", "text", min_df=1, postings_cap=2).collect()
    }
    # df counts distinct docs (doc 2 repeats "apple" in-doc); postings
    # head is the cap smallest ids, sorted
    assert rows["apple"] == (3, "1,2")
    assert rows["banana"] == (2, "2,3")


def test_stratified_sample_exact_quota(spark):
    rows = [(i, "a" if i < 40 else "b") for i in range(50)]  # a:40, b:10
    df = spark.createDataFrame(rows, ["id", "s"])
    samp = stratified_sample_exact(df, "s", frac=0.25, order_col="id").collect()
    by = {}
    for r in samp:
        by.setdefault(r.s, []).append(r.id)
    assert len(by["a"]) == 10 and len(by["b"]) == 3  # ceil(40*.25), ceil(10*.25)
    # deterministic: same call returns the same rows
    again = stratified_sample_exact(df, "s", frac=0.25, order_col="id").collect()
    assert sorted((r.s, r.id) for r in samp) == sorted((r.s, r.id) for r in again)


def test_stratified_sample_exact_systematic(spark):
    df = spark.createDataFrame([(i, "x") for i in range(8)], ["id", "s"])
    samp = stratified_sample_exact(df, "s", frac=0.25, order_col="id", salt=None)
    assert sorted(r.id for r in samp.collect()) == [0, 1]  # head-of-stratum


def test_pairwise_corr_exact_vs_python(spark):
    data = [(float(i), float(3 * i + 1), float(10 - i)) for i in range(20)]
    df = spark.createDataFrame(data, ["x", "y", "z"])
    out = {r.pair: r.corr for r in pairwise_corr(df, [("x", "y"), ("x", "z")]).collect()}
    assert math.isclose(out["x,y"], 1.0, abs_tol=1e-12)
    assert math.isclose(out["x,z"], -1.0, abs_tol=1e-12)


def test_pairwise_corr_partitioning_invariant(spark):
    data = [(float(i % 97) + 0.123456, float((i * 31) % 89) - 4.2) for i in range(500)]
    df = spark.createDataFrame(data, ["x", "y"])
    a = pairwise_corr(df.repartition(1), [("x", "y")]).collect()[0].corr
    b = pairwise_corr(df.repartition(32, "y"), [("x", "y")]).collect()[0].corr
    # exact decimal moments → bit-identical regardless of partitioning
    assert a == b


def test_hll_rollup_merge_equals_groups(spark):
    rows = [(i, f"t{i % 3}", i % 50) for i in range(600)]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "user_id"])
    out = {
        r.scope: (r.exact_distinct, r.within_5pct)
        for r in hll_distinct_rollup(df, "event_type", "user_id").collect()
    }
    # each type sees ~17 distinct users, global sees all 50 — small
    # cardinalities are exact in HLL, so within_5pct must hold everywhere
    assert out["GLOBAL"][0] == 50
    assert all(flag == 1 for _, flag in out.values())


def test_chi_square_null_category_is_real_stratum(spark):
    """NULL labels form their own contingency row/column (ADVICE r3: plain
    equi-joins zeroed their observed counts while n still included them,
    skewing the statistic)."""
    from remote_shuffle_spark.operators.stats import chi_square_independence

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 10
        + [(None, "x")] * 20 + [(None, "y")] * 0
    )
    df = spark.createDataFrame(rows, ["r", "c"])
    got = chi_square_independence(df, "r", "c").collect()[0]
    assert got.n == 40
    assert got.n_rows == 2      # 'a' and NULL
    assert got.n_cols == 2
    assert got.dof == 1
    # hand-computed: rows a=20, NULL=20; cols x=30, y=10
    # E = [[15,5],[15,5]]; O = [[10,10],[20,0]]
    # chi2 = 25/15 + 25/5 + 25/15 + 25/5 = 13.3333...
    assert abs(got.chi2 - (25 / 15 + 25 / 5 + 25 / 15 + 25 / 5)) < 1e-6


def test_chi_square_round_to_sets_decimal_scale(spark):
    """round_to > 6 must not be silently re-rounded to 6 dp (ADVICE r3:
    the term decimal was hardcoded DECIMAL(28,6))."""
    from remote_shuffle_spark.operators.stats import chi_square_independence

    rows = [("a", "x")] * 3 + [("a", "y")] * 1 + [("b", "x")] * 1 + [("b", "y")] * 2
    df = spark.createDataFrame(rows, ["r", "c"])
    r6 = chi_square_independence(df, "r", "c", round_to=6).collect()[0].chi2
    r9 = chi_square_independence(df, "r", "c", round_to=9).collect()[0].chi2
    # 9-dp terms carry MORE precision than 6-dp ones; with these counts the
    # raw terms are non-terminating (thirds/sevenths), so the sums differ
    assert r6 != r9
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chi_square_independence(df, "r", "c", round_to=11)


def test_cms_python_reader_jvm_parity(spark):
    """The pure-Python CountMinSketch reader (functions/sketches.py) must
    reproduce the JVM estimateCount EXACTLY — every term, several sketch
    geometries and seeds — so ext_heavy_hitters can drop spark._jvm
    (py4j-private, absent under Spark Connect) without changing results.
    The _jvm handle is used HERE, test-only, as the ground truth; in
    classic mode it is reachable, and this is the pin that catches any
    future wire-format drift."""
    import random

    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.sketches import CountMinSketchReader

    rng = random.Random(7)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                for _ in range(rng.randint(1, 23)))
        for _ in range(200)
    ]
    data = [(w,) for w in words for _ in range(rng.randint(1, 5))]
    df = spark.createDataFrame(data, "term string")
    probes = words + ["missing-term", "", "a", "unicode-日本語"]
    for eps, conf, seed in ((0.01, 0.9, 1), (0.001, 0.99, 42), (0.05, 0.95, 123)):
        buf = bytes(
            df.agg(
                F.count_min_sketch("term", F.lit(eps), F.lit(conf), F.lit(seed)).alias("sk")
            ).collect()[0].sk
        )
        py = CountMinSketchReader.from_bytes(buf)
        jvm = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(buf)
        assert py.total_count == jvm.totalCount()
        for w in probes:
            assert py.estimate_string(w) == jvm.estimateCount(w), (eps, conf, seed, w)


def test_cms_inner_product_join_size_bounds(spark):
    """CMS inner-product join-size estimate: est >= exact always (row
    sums only add collision cross-terms), and at a deliberately TINY
    width (eps=0.05 -> w=55, real collisions) the overshoot stays within
    the published eps*Na*Nb envelope.  Geometry mismatch fails loud."""
    import math

    import pytest as _pytest
    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.sketches import CountMinSketchReader

    left = spark.range(3000).select((F.col("id") % 97).alias("k"))
    right = spark.range(2000).select((F.col("id") % 61).alias("k"))

    def sk(df, eps):
        row = df.agg(
            F.count_min_sketch(F.col("k"), F.lit(eps), F.lit(0.99), F.lit(7)).alias("s")
        ).collect()[0]
        return CountMinSketchReader.from_bytes(bytes(row.s))

    exact = left.join(right, "k").count()
    a, b = sk(left, 0.05), sk(right, 0.05)
    est = a.inner_product(b)
    assert est >= exact
    assert est <= exact + (math.e / a.width) * 3000 * 2000, (est, exact, a.width)
    with _pytest.raises(ValueError, match="geometry"):
        a.inner_product(sk(right, 0.01))


def test_burst_detection_integer_rule_matches_float_3sigma(spark, tmp_path):
    """The float-free burst test ((n*x-S)^2 > 9*(n*SS-S^2), x above mean)
    must agree with the float x > mu + 3*sigma rule on crafted counts
    with one planted spike, and the declared query must flag it."""
    import math

    from pyspark.sql import functions as F

    import remote_shuffle_spark.ext_queries  # noqa: F401 — registers EXT queries
    from remote_shuffle_spark.queries import REGISTRY

    # 60 quiet minutes of ~5 events + one 50-event spike
    counts = [5, 4, 6, 5, 5] * 12 + [50]
    mu = sum(counts) / len(counts)
    var = sum(x * x for x in counts) / len(counts) - mu * mu
    float_bursts = {
        i for i, x in enumerate(counts) if x > mu + 3 * math.sqrt(var)
    }
    n, s, ss = len(counts), sum(counts), sum(x * x for x in counts)
    int_bursts = {
        i
        for i, x in enumerate(counts)
        if x * n > s and (x * n - s) ** 2 > 9 * (n * ss - s * s)
    }
    assert int_bursts == float_bursts == {60}

    # end-to-end through the declared query's plan on planted events
    rows = []
    eid = 0
    for minute, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, minute * 60_000_000, "spiky"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, t_us long, event_type string"
    ).select(
        "event_id",
        F.timestamp_micros("t_us").alias("ts"),
        "event_type",
        F.lit(1).alias("user_id"),
        F.lit(0.0).alias("value"),
        F.lit("").alias("props"),
    )
    d = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r.event_type: (r.n_minutes, r.burst_minutes, r.max_minute_count)
        for r in REGISTRY["ext_burst_detection"].fn(spark, d).collect()
    }
    assert out["spiky"] == (61, 1, 50), out


def test_grouped_median2_odd_even_and_ties(spark):
    from remote_shuffle_spark.operators.stats import grouped_median2

    df = spark.createDataFrame(
        [("odd", v) for v in [5, 1, 9, 3, 7]]          # median 5 -> med2 10
        + [("even", v) for v in [4, 1, 3, 2]]          # median 2.5 -> med2 5
        + [("ties", v) for v in [2, 2, 2, 8]]          # median 2 -> med2 4
        + [("one", 42)],                               # med2 84
        ["g", "v"],
    )
    out = {r.group: (r.n, r.med2) for r in grouped_median2(df, "g", "v").collect()}
    assert out == {"odd": (5, 10), "even": (4, 5), "ties": (4, 4), "one": (1, 84)}


def test_time_weighted_sums_locf(spark):
    from remote_shuffle_spark.operators.stats import time_weighted_sums

    # user 1: value 100 cents holds 10s, then 300 holds 5s; last row open.
    # user 2: single observation -> no closed interval.
    # simultaneous pair (user 3): tiebreak gives event 30 a 0s interval,
    # event 31 a 4s one -- deterministic under (ts, event_id).
    rows = [
        (10, 0, 1, "a", 100),
        (11, 10_000_000, 1, "a", 300),
        (12, 15_000_000, 1, "b", 999),
        (20, 0, 2, "a", 500),
        (30, 0, 3, "b", 7),
        (31, 0, 3, "b", 11),
        (32, 4_000_000, 3, "b", 13),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, t_us long, user long, g string, cents long"
    ).select("event_id", F.timestamp_micros("t_us").alias("ts"), "user", "g", "cents")
    out = {
        r.group: (r.n_intervals, r.tw_num, r.tw_den_sec)
        for r in time_weighted_sums(
            df,
            timeline_col="user",
            ts_col="ts",
            cents_col="cents",
            group_col="g",
            tiebreak_col="event_id",
        ).collect()
    }
    # a: 100*10 + 300*5 = 2500 over 15s; b: 7*0 + 11*4 = 44 over 4s
    assert out == {"a": (2, 2500, 15), "b": (2, 44, 4)}


def test_histogram_cdf_counts_weights_and_ranks(spark):
    from remote_shuffle_spark.operators.stats import histogram_cdf

    # multiset {1,1,2,5,5,5,9} -> hist (1,2,2),(2,1,3),(5,3,6),(9,1,7)
    df = spark.createDataFrame([(v,) for v in [5, 1, 9, 5, 2, 1, 5]], "v long")
    out = {r.v: (r.cnt, r.cum) for r in histogram_cdf(df, "v").collect()}
    assert out == {1: (2, 2), 2: (1, 3), 5: (3, 6), 9: (1, 7)}

    # rank r lives in (cum-cnt, cum]: r=4 -> 5 (4th smallest), r=2 -> 1
    for rank, want in [(1, 1), (2, 1), (3, 2), (4, 5), (6, 5), (7, 9)]:
        hit = [v for v, (c, m) in out.items() if m - c < rank <= m]
        assert hit == [want], (rank, hit)

    # weighted mode: pre-aggregated counts give the same CDF
    w = spark.createDataFrame([(1, 2), (2, 1), (5, 3), (9, 1)], "v long, w long")
    out_w = {
        r.v: (r.cnt, r.cum)
        for r in histogram_cdf(w, "v", weight_col="w").collect()
    }
    assert out_w == out

    # NULL values carry no rank
    withnull = spark.createDataFrame([(1,), (None,), (2,)], "v long")
    out_n = {r.v: r.cum for r in histogram_cdf(withnull, "v").collect()}
    assert out_n == {1: 1, 2: 2}

    # empty input -> empty histogram (no crash on the offsets collect)
    empty = spark.createDataFrame([], "v long")
    assert histogram_cdf(empty, "v").count() == 0

    # more partitions than distinct values still sums to n
    out_p = {
        r.v: (r.cnt, r.cum)
        for r in histogram_cdf(df, "v", num_partitions=16).collect()
    }
    assert out_p == out


def test_histogram_cdf_plan_has_no_global_window(spark):
    """The whole point (r12 verdict item 2): the running total must come
    from per-partition windows keyed by the range-partition id, never a
    corpus-wide Window.orderBy."""
    from remote_shuffle_spark.operators.stats import histogram_cdf
    from remote_shuffle_spark.plans.explain import assert_no_global_window

    df = spark.createDataFrame([(v,) for v in range(100)], "v long")
    assert_no_global_window(histogram_cdf(df, "v"))
