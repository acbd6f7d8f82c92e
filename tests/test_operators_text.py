"""Text-analysis operator semantics on crafted inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from remote_shuffle_spark.operators import text


def _one(spark, s: str):
    return spark.createDataFrame([(1, s)], ["doc_id", "text"])


def test_token_count(spark):
    df = _one(spark, "  Hello   world  this is   SPARK  ")
    assert df.select(text.token_count("text").alias("n")).collect()[0].n == 5


def test_token_count_empty(spark):
    df = _one(spark, "   ")
    assert df.select(text.token_count("text").alias("n")).collect()[0].n == 0


def test_bpe_ish_token_count(spark):
    df = _one(spark, "hello, world42!")
    # hello , world 42 ! → 5
    assert df.select(text.bpe_ish_token_count("text").alias("n")).collect()[0].n == 5


@pytest.mark.parametrize(
    "sentence,expected",
    [
        ("der hund ist nicht da und die katze", "de"),
        ("le chat est sur la table et les chiens", "fr"),
        ("el perro es grande y la casa que vemos es azul", "es"),
        ("the cat and the dog of the house is here", "en"),
        ("zzz qqq www", "und"),
    ],
)
def test_identify_language(spark, sentence, expected):
    df = _one(spark, sentence)
    got = df.select(text.identify_language("text").alias("lang")).collect()[0].lang
    assert got == expected


def test_quality_features(spark):
    df = _one(spark, "Good text, with punctuation! And the usual stopwords of it.")
    row = text.quality_features(df, "text").collect()[0]
    assert row.q_tokens == 10
    assert row.q_chars > 0
    assert 0 < row.q_punct_ratio < 0.2
    assert 0 < row.q_stopword_ratio < 0.5
    assert row.q_mean_token_len == pytest.approx(
        sum(len(t) for t in row.text.lower().split()) / 10, rel=1e-9
    )


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha  beta   gamma")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.fingerprint for r in text.with_fingerprint(df, "text").collect()}
    assert rows[1] != rows[2]  # order matters
    assert rows[1] == rows[3]  # whitespace doesn't
    assert all(v >= 0 for v in rows.values())


def test_fingerprint_deterministic_across_runs(spark):
    df = _one(spark, "some stable text for fingerprinting")
    a = text.with_fingerprint(df, "text").collect()[0].fingerprint
    b = text.with_fingerprint(df, "text").collect()[0].fingerprint
    assert a == b


def test_stopword_ratio_bounds(spark):
    all_stop = _one(spark, "the the the")
    none_stop = _one(spark, "zebra quartz violin")
    assert all_stop.select(text.stopword_ratio("text").alias("r")).collect()[0].r == 1.0
    assert none_stop.select(text.stopword_ratio("text").alias("r")).collect()[0].r == 0.0


def test_tf_idf_against_python_oracle(spark, sf_smoke):
    import math

    from remote_shuffle_spark.operators.text import tf_idf
    from remote_shuffle_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(40).cache()
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.score)
        for r in tf_idf(docs, "doc_id", "text").collect()
    }
    rows = docs.select("doc_id", "text").collect()
    n = len(rows)
    toks = {
        r.doc_id: " ".join(r.text.lower().split()).split(" ") for r in rows
    }
    df_counts: dict[str, int] = {}
    for ts in toks.values():
        for t in set(ts):
            df_counts[t] = df_counts.get(t, 0) + 1
    for doc_id, ts in toks.items():
        for t in set(ts):
            tf = ts.count(t)
            idf = math.log((1 + n) / (1 + df_counts[t])) + 1
            got_tf, got_df, got_score = got[(doc_id, t)]
            assert got_tf == tf and got_df == df_counts[t]
            assert abs(got_score - tf * idf) < 1e-9
    assert len(got) == sum(len(set(ts)) for ts in toks.values())


def test_repetition_features_planted(spark):
    from remote_shuffle_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab ba ab ba ab -> max 3/5
            (2, "w x y z"),             # all distinct -> 1/3
            (3, "solo"),                # < 2 tokens -> dropped
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_features(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_ngrams == 5 and rows[1].max_count == 3
    assert abs(rows[1].rep_ratio - 3 / 5) < 1e-12
    assert rows[2].n_ngrams == 3 and rows[2].max_count == 1


def test_pii_counts_and_scrub(spark):
    from remote_shuffle_spark.operators.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [(1, "mail bob@example.com or +1 (555) 123-4567 from 192.168.0.1 ok")],
        ["doc_id", "text"],
    )
    row = df.select(
        pii_counts("text").alias("pii"), scrub_pii("text").alias("clean")
    ).collect()[0]
    # categories may overlap (an IPv4 is also a digit run the phone
    # pattern accepts) — each count is a lower bound of 1 here
    assert row.pii.email == 1 and row.pii.phone >= 1 and row.pii.ipv4 == 1
    assert "bob@example.com" not in row.clean
    assert "555" not in row.clean
    assert "192.168.0.1" not in row.clean
    assert row.clean.startswith("mail [PII]")
    # clean text: nothing scrubbed, string unchanged
    clean = spark.createDataFrame([(2, "no personal data here")], ["doc_id", "text"])
    assert clean.select(scrub_pii("text").alias("c")).collect()[0].c == "no personal data here"


def test_bm25_against_python_oracle(spark):
    import math

    corpus = [
        (1, "spark query engine"),
        (2, "query query window"),
        (3, "join join join spark"),
        (4, "nothing relevant here"),
    ]
    terms = ("spark", "query", "join")
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.bm25_scores(df, "doc_id", "text", terms).collect()}

    k1, b = 1.2, 0.75
    docs = {i: t.split() for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    dfreq = {t: sum(1 for v in docs.values() if t in v) for t in terms}
    for i, toks in docs.items():
        expect = 0.0
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            dl = len(toks)
            expect += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        if expect == 0.0:
            assert i not in got  # doc 4 matches no term: absent, not zero
        else:
            assert got[i].dl == len(toks)
            assert abs(got[i].score - expect) < 1e-9


def test_bigram_lm_scores_python_oracle(spark):
    import math

    corpus = [(1, "a b a b"), (2, "a b c"), (3, "x")]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.bigram_lm_scores(df, "doc_id", "text").collect()}

    # doc 3 has < 2 tokens -> no row
    assert set(got) == {1, 2}
    bi = {}
    ctx = {}
    for _, t in corpus:
        toks = t.split()
        for w1, w2 in zip(toks, toks[1:]):
            bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
    v = len({w for _, t in corpus for w in t.split()})  # a b c x -> 4
    alpha = 0.5
    for i, t in corpus:
        toks = t.split()
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            continue
        total = sum(
            round(-math.log((bi[p] + alpha) / (ctx[p[0]] + alpha * v)), 6)
            for p in pairs
        )
        assert got[i].n_bigrams == len(pairs)
        assert abs(got[i].avg_neg_logprob - total / len(pairs)) < 1e-9


def test_quality_classifier_exact_integer_score(spark):
    from remote_shuffle_spark.operators.text import quality_classifier

    df = spark.createDataFrame(
        [(1, "the cat and the hat")], "doc_id long, text string"
    )
    (row,) = quality_classifier(df, "doc_id", "text", bucket_width=10).collect()
    # tokens: the cat and the hat -> n=5, distinct=4, stopwords: the,and,the -> 3
    assert (row.n_tokens, row.n_distinct, row.stop_count) == (5, 4, 3)
    assert row.quality_score == 3 * 5 + 10 * 4 + 25 * 3  # = 130
    assert row.quality_bucket == 13


def test_bpe_train_hand_computed_merges(spark):
    from remote_shuffle_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "abc")], "doc_id long, text string"
    )
    rows = bpe_train(df, "doc_id", "text", num_merges=2).orderBy("round").collect()
    # vocab: ab x3 (a|b), abc x1 (a|b|c)
    # round 1: pair (a,b) weight 4 wins; totals: ab=1 sym x3 + ab|c=2 x1 = 5
    assert (rows[0].pair_a, rows[0].pair_b, rows[0].pair_count) == ("a", "b", 4)
    assert rows[0].corpus_symbols_after == 5
    # round 2: only pair left is (ab, c) weight 1; totals: 3 + 1 = 4
    assert (rows[1].pair_a, rows[1].pair_b, rows[1].pair_count) == ("ab", "c", 1)
    assert rows[1].corpus_symbols_after == 4


def test_bpe_merge_fold_overlapping_run_is_left_greedy(spark):
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.text import _bpe_merge_fold

    got = spark.range(1).select(
        _bpe_merge_fold(F.split(F.lit("g|g|g|g|g"), r"\|"), "g", "g").alias("m")
    ).collect()[0].m
    assert got == "gg|gg|g"


def test_winnowing_shared_run_guarantees_common_fingerprint(spark):
    """The winnowing guarantee: docs sharing >= k + window - 1 = 8
    consecutive words share a fingerprint (verified by intersecting the
    selected-hash sets); a short doc yields exactly one fingerprint."""
    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six seven eight nine ten"),
            (2, f"{shared} completely different tail words here now okay yes"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnowing_fingerprints(df, "doc_id", "text").collect()}
    assert out[3].n_fingerprints == 1  # < window shingles -> global min only
    # recompute the selected SETS to assert the shared-fingerprint guarantee
    from remote_shuffle_spark.functions.hashing import tokens, word_shingles_from_tokens
    from pyspark.sql import Window as W

    toks = df.select("doc_id", tokens("text").alias("t"))
    sh = toks.select(
        "doc_id", F.posexplode(word_shingles_from_tokens(F.col("t"), 4)).alias("pos", "s")
    ).select("doc_id", "pos", F.md5("s").alias("h"))
    wf = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.currentRow, 4)
    np_ = W.partitionBy("doc_id")
    sel = (
        sh.select("doc_id", "pos", F.min("h").over(wf).alias("m"),
                  F.count(F.lit(1)).over(np_).alias("ns"))
        .filter((F.col("pos") <= F.col("ns") - 5) | (F.col("pos") == 0))
        .select("doc_id", "m").distinct()
    )
    s1 = {r.m for r in sel.filter("doc_id = 1").collect()}
    s2 = {r.m for r in sel.filter("doc_id = 2").collect()}
    assert s1 & s2, "8-word shared run must yield a common fingerprint"


def test_char_entropy_known_values(spark):
    """Hand-computed pins: a single repeated character has entropy 0; two
    equally frequent characters have entropy ln 2; a key-mash doc scores
    far below a natural-language doc."""
    import math

    from remote_shuffle_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),
            (2, "abababab"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaab"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.e
        for r in df.select("doc_id", char_entropy("text").alias("e")).collect()
    }
    assert got[1] == 0.0
    # each of the two Shannon terms rounds to 6 decimals, so the sum can
    # differ from ln 2 by up to 1e-6 (the documented discipline)
    assert abs(got[2] - math.log(2)) < 2e-6
    # pangram: 26 letters, 35 chars total — rich distribution
    assert got[3] > 3.0
    # near-degenerate key-mash sits way below natural text
    assert got[4] < 0.2


def test_bpe_apply_matches_train_fold_semantics(spark):
    """Applying the trained merges to the TRAINING corpus must reproduce
    bpe_train's own corpus_symbols_after at every round — train and
    apply share one fold algebra by construction."""
    from remote_shuffle_spark.operators.text import bpe_apply, bpe_train

    df = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    trained = bpe_train(df, "doc_id", "text", num_merges=2).orderBy("round").collect()
    merges = [(r.pair_a, r.pair_b) for r in trained]
    applied = bpe_apply(df, "doc_id", "text", merges)
    total_bpe = applied.agg(F.sum("symbols_bpe")).collect()[0][0]
    assert total_bpe == trained[-1].corpus_symbols_after
    # and char symbols = plain character count of all words
    total_char = applied.agg(F.sum("symbols_char")).collect()[0][0]
    assert total_char == sum(len(w) for t in ("low lower lowest low", "new newer newest new") for w in t.split())


def test_bpe_apply_greedy_left_first(spark):
    """Overlapping merge sites resolve left-first: merging (a,a) over
    'aaa' yields [aa, a] (2 symbols), never [a, aa]."""
    from remote_shuffle_spark.operators.text import bpe_apply

    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    (row,) = bpe_apply(df, "doc_id", "text", [("a", "a")]).collect()
    assert (row.symbols_char, row.symbols_bpe) == (3, 2)


def test_dsir_log_weights_hand_computed(spark):
    """Exact weight check on a 3-doc fixture: doc 1 ('a b') is the
    target; docs 2 ('a b') and 3 ('c d') the rest of the source.  Bucket
    counts: b(ab): c_s=2, c_t=1; b(cd): c_s=1, c_t=0; totals n_s=3,
    n_t=1, B=2.  r(ab)=round(ln((2/3)/(3/5)),6); r(cd)=
    round(ln((1/3)/(2/5)),6).  Doc weights are single terms (one bigram
    each), so the decimal equals the rounded float exactly."""
    import math
    from decimal import Decimal

    from pyspark.sql import functions as F

    from remote_shuffle_spark.operators.text import dsir_log_weights

    df = spark.createDataFrame(
        [(1, "a b", True), (2, "a b", False), (3, "c d", False), (4, "x", False)],
        "doc_id long, text string, tg boolean",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.log_w)
        for r in dsir_log_weights(df, "doc_id", "text", F.col("tg")).collect()
    }
    r_ab = Decimal(str(round(math.log((2 / 3) / (3 / 5)), 6)))
    r_cd = Decimal(str(round(math.log((1 / 3) / (2 / 5)), 6)))
    assert out[1] == (1, r_ab) and out[2] == (1, r_ab)
    assert out[3] == (1, r_cd)
    assert out[4] == (0, Decimal("0.000000"))  # <2 tokens: no features


def test_inverted_index_prunes_buckets_and_append_preserves(spark, tmp_path):
    """The persisted inverted index must (a) PLAN a term lookup as
    partition pruning — the postings scan carries a PartitionFilters
    entry on the bucket column, (b) leave untouched bucket directories
    byte-identical under append (only the new tokens' buckets gain
    files), and (c) return the same lookup as a full build."""
    import os
    import re

    from remote_shuffle_spark.operators.text import (
        inverted_index_lookup,
        inverted_postings,
        write_inverted_index,
    )
    from remote_shuffle_spark.plans.index_store import append_index

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "beta delta"),
            (3, "alpha epsilon zeta"),
            (4, "eta theta iota"),
        ],
        ["doc_id", "text"],
    )
    full = str(tmp_path / "full")
    write_inverted_index(inverted_postings(docs, "doc_id", "text"), full)

    res = inverted_index_lookup(spark, full, ["alpha", "beta"], k=10)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    bucket_filters = [f for f in filters if "bucket" in f]
    assert bucket_filters and any("IN" in f.upper() for f in bucket_filters), filters

    # incremental: build without doc 3, append doc 3; untouched buckets keep
    # their files byte-identical and the lookup equals the full build
    inc = str(tmp_path / "inc")
    write_inverted_index(
        inverted_postings(docs.filter("doc_id <> 3"), "doc_id", "text"), inc
    )
    def _files(root):
        out = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, root)] = os.path.getmtime(p)
        return out

    before = _files(inc)
    import hashlib
    new_buckets = {
        hashlib.md5(t.encode()).hexdigest()[:1]
        for t in ("alpha", "epsilon", "zeta")
    }
    append_index(
        spark, inc, inverted_postings(docs.filter("doc_id = 3"), "doc_id", "text")
    )
    after = _files(inc)
    for rel, mt in before.items():
        assert after[rel] == mt, f"pre-existing file rewritten: {rel}"
    touched_dirs = {
        rel.split(os.sep)[0] for rel in after if rel not in before
    }
    assert touched_dirs <= {f"bucket={b}" for b in new_buckets}, touched_dirs

    got = {
        (r.doc_id, r.n_matched, r.tf_sum)
        for r in inverted_index_lookup(spark, inc, ["alpha", "beta"], k=10).collect()
    }
    want = {
        (r.doc_id, r.n_matched, r.tf_sum)
        for r in inverted_index_lookup(spark, full, ["alpha", "beta"], k=10).collect()
    }
    assert got == want


def test_inverted_index_compact_preserves_untouched_buckets(spark, tmp_path):
    """Compaction of a bucket subset must leave every other bucket's
    files byte-identical (dynamic partition overwrite) and not change
    lookup content."""
    import hashlib
    import os

    from remote_shuffle_spark.operators.text import (
        inverted_index_lookup,
        inverted_postings,
        write_inverted_index,
    )
    from remote_shuffle_spark.plans.index_store import append_index, compact_index

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "beta delta"),
            (3, "alpha epsilon zeta"),
            (4, "eta theta iota"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "idx")
    write_inverted_index(
        inverted_postings(docs.filter("doc_id <> 3"), "doc_id", "text"), path
    )
    append_index(
        spark, path, inverted_postings(docs.filter("doc_id = 3"), "doc_id", "text")
    )
    before_lookup = {
        (r.doc_id, r.n_matched, r.tf_sum)
        for r in inverted_index_lookup(spark, path, ["alpha", "beta"], k=10).collect()
    }

    target = hashlib.md5(b"alpha").hexdigest()[:1]

    def _files(root):
        out = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, root)] = os.path.getmtime(p)
        return out

    before = _files(path)
    compact_index(spark, path, parts=[target])
    after = _files(path)
    for rel, mt in before.items():
        if not rel.startswith(f"bucket={target}"):
            assert after.get(rel) == mt, f"untouched bucket rewritten: {rel}"
    assert (
        len([r for r in after if r.startswith(f"bucket={target}")]) == 1
    ), "target bucket not compacted to one file"
    after_lookup = {
        (r.doc_id, r.n_matched, r.tf_sum)
        for r in inverted_index_lookup(spark, path, ["alpha", "beta"], k=10).collect()
    }
    assert after_lookup == before_lookup
