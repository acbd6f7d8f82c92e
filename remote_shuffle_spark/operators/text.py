"""Text-analysis operators (EXT — SURVEY §2.3): language ID, quality
scoring, token counting, document fingerprinting.

All per-document metrics are narrow column expressions; the only shuffles
are the explicit per-language/per-source aggregations — i.e. the shape
scales linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from remote_shuffle_spark.functions.hashing import normalized_text, rolling_fingerprint, tokens
from remote_shuffle_spark.plans.index_store import by_partition, read_index, write_index
from remote_shuffle_spark.sources.local import local_frame

# Tiny deterministic marker-word profiles for the language-ID heuristic.
# A production profile would be trained character n-gram frequencies
# (textcat-style); the operator shape (score-per-language → argmax as an
# expression) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "de", "es"),
    "zh": ("的", "是", "了", "在", "我"),
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols —
# a public-regex approximation of byte-pair tokenizer pre-splitting.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count(text_col) -> Column:
    """Whitespace token count of normalized text (0 for empty/null)."""
    t = normalized_text(text_col)
    return F.when(F.length(t) > 0, F.size(F.split(t, " "))).otherwise(F.lit(0))


def bpe_ish_token_count(text_col) -> Column:
    """Sub-word-ish token count via the BPE-ish regex."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def stopword_ratio(text_col, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    toks = tokens(text_col)
    stops = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(F.size(toks) > 0, stops.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document quality features: length, token count, mean token
    length, punctuation ratio, stopword ratio — the standard cheap
    pre-filter signals for a training-data pipeline.

    Normalized text and its token array are materialized in their own
    projection first: five features referencing ``tokens(text_col)``
    inline would re-run normalize+regexp+split per feature (and per
    element inside the HOF lambdas — see
    functions.hashing.word_shingles_from_tokens)."""
    t = F.col("_qf_norm")
    toks = F.col("_qf_tk")
    pre = df.withColumns(
        {"_qf_norm": normalized_text(text_col), "_qf_tk": tokens(text_col)}
    )
    n_tok = F.when(F.length(t) > 0, F.size(toks)).otherwise(F.lit(0))
    punct = F.length(F.regexp_replace(t, r"[^\.,;:!?]", ""))
    stops = F.size(F.filter(toks, lambda x: x.isin(*LANG_MARKERS["en"])))
    return pre.withColumns(
        {
            "q_chars": F.length(t),
            "q_tokens": n_tok,
            "q_mean_token_len": F.when(
                n_tok > 0,
                F.aggregate(
                    toks, F.lit(0), lambda acc, x: acc + F.length(x)
                ).cast("double")
                / n_tok,
            ).otherwise(F.lit(0.0)),
            "q_punct_ratio": F.when(
                F.length(t) > 0, punct.cast("double") / F.length(t)
            ).otherwise(F.lit(0.0)),
            "q_stopword_ratio": F.when(
                F.size(toks) > 0, stops.cast("double") / F.size(toks)
            ).otherwise(F.lit(0.0)),
        }
    ).drop("_qf_norm", "_qf_tk")


def language_scores(text_col) -> Column:
    """Array of (score, lang) structs — marker-word hit counts."""
    toks = tokens(text_col)

    def is_marker(markers: tuple[str, ...]):
        # single-parameter lambda: a second (default) parameter would make
        # pyspark bind the array index to it
        return lambda t: t.isin(*markers)

    scored = []
    for lang in sorted(LANG_MARKERS):
        hits = F.size(F.filter(toks, is_marker(LANG_MARKERS[lang])))
        scored.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    return F.array(*scored)


def identify_language(text_col, min_score: int = 1) -> Column:
    """Argmax language by marker hits; 'und' (undetermined) below
    ``min_score``.  Ties break toward the lexicographically LAST language
    code (array_max on (score, lang) structs) — deterministic."""
    best = F.array_max(language_scores(text_col))
    return F.when(best["score"] >= min_score, best["lang"]).otherwise(F.lit("und"))


def with_fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint") -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (bigint)."""
    return df.withColumn(out_col, rolling_fingerprint(tokens(text_col)))


def repetition_features(
    df: DataFrame, id_col: str, text_col: str, *, ngram: int = 2
) -> DataFrame:
    """Gopher-style repetition quality signal: fraction of all word
    n-grams taken by the single most frequent n-gram (high → boilerplate
    / degenerate repetition → filter candidate).

    Shape: shingles are built in-row (higher-order expressions, no
    shuffle), then one explode + two combinable aggregations keyed by
    (doc, gram) and doc — linear in corpus size, no driver state.
    (A zero-shuffle in-row fold over the sorted gram array was measured
    4x SLOWER here: higher-order aggregate lambdas evaluate interpreted
    and Catalyst projection collapse recomputes the shingle array per
    reference — the same trap the MinHash signatures hit.  The explode
    rows are (id, gram) pairs, far narrower than the documents, and the
    aggregation is map-side combinable, so the shuffle is cheap.)
    Documents with fewer than ``ngram`` tokens are dropped (no n-grams
    to measure).  Returns (id, n_ngrams, max_count, rep_ratio).
    """
    from remote_shuffle_spark.functions.hashing import tokens, word_shingles_from_tokens

    # tokenize in its own projection: HOF lambdas re-evaluate inlined
    # subtrees per element (see word_shingles_from_tokens)
    tk = df.select(F.col(id_col), tokens(text_col).alias("_tk")).filter(
        F.size("_tk") >= ngram
    )
    grams = tk.select(
        F.col(id_col), F.explode(word_shingles_from_tokens(F.col("_tk"), ngram)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_ngrams"),
        F.max("c").alias("max_count"),
        (F.max("c").cast("double") / F.sum("c")).alias("rep_ratio"),
    )


# PII patterns kept in the common Java-regex / RE2 subset (no lookaround)
# so the same patterns run JVM-side in Spark and in external engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9\s().-]{7,}[0-9]",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def pii_counts(text_col) -> Column:
    """Struct of per-category PII match counts (email, phone, ipv4)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.struct(
        *[
            F.size(F.regexp_extract_all(c, F.lit(pat), 0)).alias(name)
            for name, pat in PII_PATTERNS.items()
        ]
    )


def scrub_pii(text_col, replacement: str = "[PII]") -> Column:
    """Replace every PII match with ``replacement`` — chained JVM-side
    regexp_replace, category order fixed (email first so phone's digit
    runs can't eat mail local-parts)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pat in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, replacement)
    return c


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_df: int = 2,
    postings_cap: int = 10,
) -> DataFrame:
    """Inverted index: per token, document frequency and the head of its
    sorted postings list — the retrieval-side build for corpus search /
    audit tooling.

    Shape at corpus scale: one explode to (id, token), a distinct, then a
    combinable count per token (vocabulary cardinality, ≪ corpus) for df.
    The postings head is rank-limited BEFORE collection (row_number ≤ cap
    within each token, then collect over ≤ cap rows) so no aggregation
    state ever holds a full postings list — a stopword with df=10⁹ costs
    the sort, not the memory.  A full postings build at 100 TB would
    instead write the (token, id) pairs sorted-bucketed by token and never
    materialize per-token arrays.  ``postings_head`` is a comma-joined
    string so the result is engine-portable (FIXTURES.md determinism
    rules).  Returns (token, df, postings_head) filtered to df >=
    ``min_df``.
    """
    from pyspark.sql import Window as W

    pairs = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token")).distinct()
    dfreq = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(W.partitionBy("token").orderBy(F.col(id_col)))
    head = (
        pairs.withColumn("_rn", rn)
        .filter(F.col("_rn") <= postings_cap)
        .groupBy("token")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list(F.col(id_col)))).alias(
                "postings_head"
            )
        )
    )
    return dfreq.filter(F.col("df") >= min_df).join(head, "token")


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    alpha: float = 0.5,
    max_broadcast_grams: int = 1_000_000,
) -> DataFrame:
    """Corpus-trained add-alpha bigram language-model score per document —
    the CCNet-style "perplexity vs an in-domain LM" quality filter (CCNet
    trains KenLM on Wikipedia; here the LM is trained on the corpus itself,
    which is the self-scoring variant used for outlier/boilerplate
    detection).

    Train (all combinable aggregations over one explode of in-row bigram
    shingles): bigram counts c(w1 w2), context counts c(w1 ·), vocabulary
    size V.  Score: per-doc mean of -ln P(w2|w1), with
    P(w2|w1) = (c(w1 w2) + α) / (c(w1 ·) + α·V).

    Shape at corpus scale: the count tables are vocabulary-/bigram-
    cardinality (≪ corpus) and join back to the exploded doc-bigram stream
    on the gram string.  The join strategy is chosen EXPLICITLY from the
    measured dictionary cardinality, not left to size-estimate guessing:
    ``bi_counts`` is persisted (it is gram-sized, safe to materialize)
    and counted once — at or under ``max_broadcast_grams`` the LM table
    is broadcast (no shuffle of the corpus-sized stream); above it the
    join is hinted sort-merge, which spills gracefully instead of
    building a vocab²-scaling broadcast (docs/scale.md round-4 10x probe,
    finding 2: the unbounded broadcast needed a 16 GB local heap).  The
    persist also collapses what was a double evaluation of the corpus
    aggregation (bi_counts feeds both the probability numerator and the
    context sums) into one pass.  No driver-side model object: the
    "model" stays a DataFrame end to end.  The doc-bigram stream is
    deliberately NOT checkpointed even though it is evaluated twice
    (count pass + score pass): materializing a corpus-sized intermediate
    in executor storage was measured to starve the LM broadcast build
    into an OOM at 1M docs / 39M bigrams, while recomputing the narrow
    tokenize+shingle projection is pure map-side CPU (docs/scale.md,
    round-4 5x probe).

    Determinism: each -ln P is rounded to 6 dp (absorbs libm ULP) and
    summed as DECIMAL(28,6) — exact, order-independent — then divided by
    the exact bigram count; the final cast to double is bit-stable across
    engines.  Documents with < 2 tokens are dropped (no bigrams to score).
    Returns (id_col, n_bigrams, avg_neg_logprob).
    """
    from remote_shuffle_spark.functions.hashing import tokens, word_shingles_from_tokens

    tk = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    vocab = tk.select(F.explode("_tk").alias("w")).agg(
        F.count_distinct("w").alias("v")
    )
    doc_bi = tk.filter(F.size("_tk") >= 2).select(
        F.col(id_col),
        F.explode(word_shingles_from_tokens(F.col("_tk"), 2)).alias("gram"),
    )
    bi_counts = (
        doc_bi.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c_bi"))
        # gram-cardinality, NOT corpus-sized — safe to materialize.
        # localCheckpoint (not persist): the blocks are freed by the
        # ContextCleaner as soon as the returned plan is no longer
        # referenced, so a long multi-query session does not accumulate
        # pinned cache entries (the exact storage pressure the broadcast
        # note below describes); persist() would hold them until an
        # explicit unpersist that no caller is positioned to issue.
        .localCheckpoint(eager=False)
    )
    n_grams = bi_counts.count()  # materializes the checkpoint + sizes the join
    # context counts derive ALGEBRAICALLY from the bigram table —
    # c(w1 ·) = Σ over grams starting with w1 of c(w1 w2) — so the corpus-
    # sized explode stream is aggregated once, not twice (measured 25% of
    # total runtime at 200k docs; the vocabulary pass below tokenizes
    # without shingling, which is the cheap half)
    ctx_counts = (
        bi_counts.groupBy(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1")
        )
        .agg(F.sum("c_bi").alias("c_ctx"))
    )
    p = (F.col("c_bi") + alpha) / (F.col("c_ctx") + alpha * F.col("v"))
    # P(w2|w1) depends only on gram-level counts, so fold the LM into ONE
    # per-gram probability table first (bigram-vocabulary-sized joins) and
    # join the corpus-sized exploded stream a single time, not twice
    gram_p = (
        bi_counts.withColumn("w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
        .join(ctx_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("gram", F.round(-F.log(p), 6).cast("decimal(28,6)").alias("neglog"))
    )
    if n_grams <= max_broadcast_grams:
        scored = doc_bi.join(F.broadcast(gram_p), "gram")
    else:
        scored = doc_bi.join(gram_p.hint("merge"), "gram")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("neglog").cast("double") / F.count(F.lit(1))).alias("avg_neg_logprob"),
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scores for a fixed query over the corpus — the
    ranking-side counterpart of :func:`inverted_index` (retrieval /
    corpus-audit tooling; Robertson & Walker's published formula).

    Shape at corpus scale: one explode to (id, term) FILTERED to the
    query's terms before any shuffle (the filter is map-side, so the
    aggregated stream is |query| * matching-docs rows, ≪ corpus); tf and
    df are combinable aggregations over that filtered stream; N and avgdl
    are scalar aggregates broadcast via crossJoin.  Nothing materializes
    per-term state proportional to the corpus.

    Determinism: the per-(doc, term) BM25 contributions are pivoted into
    one fixed-order column per query term and added sequentially, so the
    floating-point sum order is identical on any engine — no reliance on
    shuffle-order-stable double aggregation.  Document length is the raw
    whitespace-split size (empty text → 1, same as DuckDB's
    ``len(string_split('',' '))``) so both engines agree on edge cases.

    idf = ln(1 + (N - df + 0.5) / (df + 0.5)) (always positive).
    Returns (id_col, dl, score) for documents matching >= 1 query term.
    """
    terms = tuple(dict.fromkeys(query_terms))  # stable order, unique
    if not terms:
        raise ValueError("bm25_scores needs at least one query term")
    spark_scalars = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # exact integer sum / exact count -> one double division: identical
        # across engines (no double-accumulation order dependence)
        (
            F.sum(F.size(tokens(text_col))).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    base = df.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("dl"),
        F.explode(tokens(text_col)).alias("term"),
    ).filter(F.col("term").isin(*terms))
    tf = base.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        base.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(spark_scalars))
        .select(F.col(id_col), "dl", "term", contrib.alias("contrib"))
    )
    # fixed-order pivot-sum: one column per query term, added left to right
    per_term = scored.groupBy(id_col, "dl").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(f"_t{i}")
            for i, t in enumerate(terms)
        ]
    )
    total = F.lit(0.0)
    for i in range(len(terms)):
        total = total + F.coalesce(F.col(f"_t{i}"), F.lit(0.0))
    return per_term.select(F.col(id_col), "dl", total.alias("score"))


def tf_idf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-(document, term) TF-IDF scores over whitespace tokens.

    Shape at corpus scale: one explode, then two combinable aggregations
    — term frequency per (doc, term) and document frequency per term —
    joined back on term.  The DF table has vocabulary cardinality
    (≪ corpus), and the join key is the term itself, so Catalyst/AQE can
    broadcast it for dictionary-sized vocabularies; N (total docs) rides
    along as a broadcast scalar, never a driver collect of data rows.

    idf = ln((1 + N) / (1 + df)) + 1 (smoothed, scikit-style); the score
    is tf * idf.  Returns (id_col, term, tf, df, score).
    """
    spark = df.sparkSession
    n_docs = df.agg(F.count(F.lit(1)).alias("n")).select("n")
    term_rows = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = term_rows.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        term_rows.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log((F.lit(1) + F.col("n")) / (F.lit(1) + F.col("df"))) + F.lit(1.0)
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            (F.col("tf") * idf).alias("score"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top-N collocations by pointwise mutual information —
    PMI(w1, w2) = ln( P(w1 w2) / (P(w1)·P(w2)) ) with probabilities from
    corpus unigram/bigram counts.  The classic phrase-mining signal
    (word2vec's phrase pass, NPMI collocation extraction) for building
    tokenizer merge candidates and stop-phrase lists.

    Shape at corpus scale: one explode for unigrams, one for bigram
    shingles — both feed map-side-combinable counts; the two unigram
    joins back onto the bigram table are vocabulary-sized (AQE
    broadcasts them), and the corpus totals ride a broadcast 1-row
    cross-join.  TakeOrdered top-N; the corpus is never sorted.

    Determinism: every count is exactly representable, so the single
    double division feeds ln the same value in any engine; the result is
    rounded to 6 dp (same last-ULP absorption rule as bigram_lm_scores)
    and tie-broken on (w1, w2).  Bigrams come only from docs with ≥2
    tokens; unigram stats use the whole corpus.
    """
    from remote_shuffle_spark.functions.hashing import tokens, word_shingles_from_tokens

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    tk = df.select(tokens(text_col).alias("_tk"))
    uni = tk.select(F.explode("_tk").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c_uni")
    )
    n_uni = uni.agg(F.sum("c_uni").cast("double").alias("_n_uni"))
    grams = tk.filter(F.size("_tk") >= 2).select(
        F.explode(word_shingles_from_tokens(F.col("_tk"), 2)).alias("gram")
    )
    bi = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c_bigram"))
    n_bi = grams.agg(F.count(F.lit(1)).cast("double").alias("_n_bi"))
    u1 = uni.select(F.col("w").alias("_w1"), F.col("c_uni").alias("_c1"))
    u2 = uni.select(F.col("w").alias("_w2"), F.col("c_uni").alias("_c2"))
    pmi = F.round(
        F.log(
            (F.col("c_bigram").cast("double") * F.col("_n_uni") * F.col("_n_uni"))
            / (F.col("_n_bi") * F.col("_c1") * F.col("_c2"))
        ),
        6,
    )
    return (
        bi.filter(F.col("c_bigram") >= min_count)
        .withColumn("w1", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("gram"), F.lit(" "), F.lit(2)))
        .join(u1, F.col("w1") == F.col("_w1"))
        .join(u2, F.col("w2") == F.col("_w2"))
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select("w1", "w2", "c_bigram", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_n)
    )


# Integer weights for the linear quality classifier below.  Fixed, public,
# and deliberately INTEGER: the score is exact arithmetic over exact token
# counts, so classification is bit-reproducible across engines (a
# float-weight logistic model would hash-diverge on ties; the sigmoid is
# monotone, so bucketing the linear score classifies identically anyway).
QUALITY_CLASSIFIER_WEIGHTS = {
    "n_tokens": 3,        # longer docs score higher...
    "n_distinct": 10,     # ...but vocabulary richness dominates raw length
    "stop_count": 25,     # natural-language prose carries stopwords
}


def quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bucket_width: int = 200,
) -> DataFrame:
    """Fixed-weight linear document-quality classifier — the scoring stage
    a training-data pipeline runs corpus-wide to route documents into
    keep/review/drop tiers.  Features are exact integer counts over
    normalized whitespace tokens (count, distinct count, stopword count);
    score = the integer dot product with :data:`QUALITY_CLASSIFIER_WEIGHTS`;
    tier = score // bucket_width.

    Purely narrow (no shuffle until the caller aggregates) and whole-stage
    codegen'd — no UDF.  Returns (id, n_tokens, n_distinct, stop_count,
    quality_score, quality_bucket).
    """
    from remote_shuffle_spark.functions.hashing import tokens

    w = QUALITY_CLASSIFIER_WEIGHTS
    toks = df.select(F.col(id_col), tokens(text_col).alias("_qc_toks"))
    feats = toks.select(
        id_col,
        F.size("_qc_toks").alias("n_tokens"),
        F.size(F.array_distinct("_qc_toks")).alias("n_distinct"),
        F.size(
            F.filter("_qc_toks", lambda t: t.isin(*LANG_MARKERS["en"]))
        ).alias("stop_count"),
    )
    score = (
        F.col("n_tokens") * w["n_tokens"]
        + F.col("n_distinct") * w["n_distinct"]
        + F.col("stop_count") * w["stop_count"]
    ).cast("long")
    return feats.select(
        id_col,
        "n_tokens",
        "n_distinct",
        "stop_count",
        score.alias("quality_score"),
        F.floor(score / F.lit(bucket_width)).cast("long").alias("quality_bucket"),
    )


def _bpe_merge_fold(symbols: Column, a: str, b: str) -> Column:
    """Apply ONE BPE merge (a, b) -> a+b to a symbol array, canonical
    greedy left-to-right non-overlapping, returning the new '|'-delimited
    symbol string.  Expressed as a fold so the same algebra runs
    identically as DuckDB's list_reduce in the oracle: the accumulator is
    the delimited string; a merge fires iff the incoming symbol is ``b``
    and the accumulator's LAST symbol is exactly ``a`` (suffix '|'+a, or
    the whole accumulator on the first symbol).  Overlapping runs resolve
    left-first automatically: after a merge the last symbol is ``a+b``,
    which can never equal ``a`` again."""
    return F.aggregate(
        symbols,
        F.lit(""),
        lambda acc, x: F.when(acc == "", x)
        .when(
            (x == b) & ((acc == a) | acc.endswith("|" + a)),
            F.concat(
                F.substring(acc, F.lit(1), F.length(acc) - len(a)), F.lit(a + b)
            ),
        )
        .otherwise(F.concat(acc, F.lit("|"), x)),
    )


def bpe_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_merges: int = 3,
) -> DataFrame:
    """Distributed byte-pair-encoding MERGE TRAINING — the tokenizer-
    building stage of a training-data pipeline: learn the ``num_merges``
    most frequent adjacent symbol pairs over the corpus and apply each
    merge corpus-wide before counting the next.

    Scale shape: the working set after the first aggregation is the WORD
    VOCABULARY (word, count) — ~10^7-10^8 rows at 100 TB, never the
    corpus — and every merge round is one combinable pair-count shuffle
    over the vocabulary + a one-row argmax collect + a narrow fold
    (rewriting symbol strings in place).  This is exactly how production
    distributed BPE trainers decompose; rounds are inherently sequential
    (round k's counts depend on round k-1's merge), so cost = num_merges
    x one-vocabulary-aggregation, priced like the pagerank iteration
    floor.  Ties on pair count break to the lexicographically LARGEST
    (a, b) — any fixed rule works, this one is a single max(struct).

    Returns one row per merge round: (round, pair_a, pair_b, pair_count,
    corpus_symbols_after) where the last column is the corpus-weighted
    symbol total after applying that round's merge (monotonically
    decreasing by pair_count each round).
    """
    from remote_shuffle_spark.functions.hashing import tokens

    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.array_join(F.split("word", ""), "|").alias("repr"), "cnt"
        )
    )
    # lazy: round 1's argmax collect is the sole first consumer — it
    # computes + persists the vocab in its own job (same fold as the
    # in-loop checkpoint below)
    cur = vocab.localCheckpoint(eager=False)
    out_rows = []
    for rnd in range(1, num_merges + 1):
        sym = F.split("repr", r"\|")
        pairs = (
            cur.select(sym.alias("s"), "cnt")
            .filter(F.size("s") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("s") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("s"), i).alias("a"),
                            F.element_at(F.col("s"), i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("pc"))
        )
        best = pairs.agg(F.max(F.struct("pc", "a", "b")).alias("m")).collect()[0].m
        a, b, pc = best.a, best.b, int(best.pc)
        cur = cur.select(
            _bpe_merge_fold(F.split("repr", r"\|"), a, b).alias("repr"), "cnt"
            # lazy: the total collect right below computes + persists the
            # merged vocab in ONE job per round (eager + collect paid two)
        ).localCheckpoint(eager=False)
        total = cur.select(
            F.sum(F.size(F.split("repr", r"\|")) * F.col("cnt")).alias("t")
        ).collect()[0].t
        out_rows.append((rnd, a, b, pc, int(total)))
    return local_frame(
        spark, out_rows,
        "round int, pair_a string, pair_b string, pair_count bigint, "
        "corpus_symbols_after bigint",
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    k-word shingle, slide a ``window``-wide frame over shingle positions,
    select each frame's MINIMUM hash, and keep the distinct selected
    hashes as the document's fingerprint set.  Guarantee: two documents
    sharing a run of >= k + window - 1 common words share at least one
    fingerprint — the local-minima selection makes the sketch robust to
    WHERE the overlap sits, unlike fixed-stride sampling.

    Only FULL frames select (canonical winnowing); documents with fewer
    than ``window`` shingles contribute their global minimum (frame 1).
    The hash is md5 and minima compare as hex strings (equal-length hex:
    lexicographic == numeric), so selection is bit-identical on any
    engine — the reason this uses md5 rather than the engine-local
    xxhash64 the dedup family uses.

    Scale: one narrow explode (rows = corpus shingle count), one per-doc
    window (partitioned by doc — each partition is ONE document's
    shingles, never the corpus), one distinct aggregate.  Returns
    (id, n_shingles, n_fingerprints) per document.
    """
    from pyspark.sql import Window as W

    from remote_shuffle_spark.functions.hashing import (
        tokens,
        word_shingles_from_tokens,
    )

    toks = df.select(F.col(id_col).alias("_wf_id"), tokens(text_col).alias("_wf_toks"))
    sh = toks.select(
        "_wf_id",
        F.posexplode(word_shingles_from_tokens(F.col("_wf_toks"), k)).alias(
            "pos", "shingle"
        ),
    ).select("_wf_id", "pos", F.md5("shingle").alias("h"))
    w_frame = (
        W.partitionBy("_wf_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    n_sh = W.partitionBy("_wf_id")
    framed = sh.select(
        "_wf_id",
        "pos",
        F.min("h").over(w_frame).alias("wmin"),
        F.count(F.lit(1)).over(n_sh).alias("n_shingles"),
    )
    full = framed.filter(
        (F.col("pos") <= F.col("n_shingles") - window) | (F.col("pos") == 0)
    )
    return (
        full.groupBy("_wf_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.countDistinct("wmin").alias("n_fingerprints"),
        )
        .select(F.col("_wf_id").alias(id_col), "n_shingles", "n_fingerprints")
    )


CHAR_ENTROPY_ALPHABET = tuple("abcdefghijklmnopqrstuvwxyz0123456789")


def char_entropy(text_col) -> Column:
    """Per-document character-distribution Shannon entropy over the
    lowercase alphanumeric alphabet — the classic crawl-filter signal for
    gibberish, encoding noise, and key-mash (very LOW entropy = repeated
    characters / padding; natural language sits ~2.9-3.1 nats over this
    alphabet; uniform noise approaches ln(36) ≈ 3.58).

    Engine-stable float discipline (same as ext_label_entropy): each
    count is EXACT (length-difference under single-char removal — no
    per-char explode, 36 narrow expressions), each Shannon term is
    rounded to 6 decimals and decimal-summed, and only the final sum is
    a double — so the value is bit-identical across engines that agree
    on ln() to 6 decimals.  Characters outside the alphabet (spaces,
    punctuation) are not counted.

    SCALE WARNING — this single-Column form nests three HOF levels
    (terms × total-fold × count-array), and codegen re-evaluates inlined
    subtrees per lambda element (the round-2 lesson), so cost explodes
    combinatorially: measured 174 s over 50k docs at sf0.1.  It exists
    for expression-level composition on SMALL frames (the pytest pins);
    every real pipeline should use :func:`char_entropy_frame`, which
    stages the count array / total / terms as separate projections
    (0.6 s on the same input — 290x).
    """
    from remote_shuffle_spark.functions.hashing import normalized_text

    nt = normalized_text(text_col)
    counts = F.array(
        *[
            (F.length(nt) - F.length(F.replace(nt, F.lit(c), F.lit("")))).cast(
                "long"
            )
            for c in CHAR_ENTROPY_ALPHABET
        ]
    )
    n = F.aggregate(counts, F.lit(0).cast("long"), lambda a, x: a + x)
    return _entropy_from_counts(counts, n)


def _entropy_from_counts(counts: Column, n: Column) -> Column:
    """Decimal-summed Shannon entropy of an exact integer count array."""
    p = lambda c: c.cast("double") / n.cast("double")  # noqa: E731
    term = lambda c: F.round(-p(c) * F.log(p(c)), 6).cast("decimal(18,6)")  # noqa: E731
    return F.aggregate(
        counts,
        F.lit(0).cast("decimal(28,6)"),
        # re-cast: decimal(28,6) + decimal(18,6) widens to (29,6), but the
        # fold's merge lambda must return the accumulator's exact type
        lambda acc, c: (
            acc + F.when(c > 0, term(c)).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).cast("decimal(28,6)"),
    ).cast("double")


def char_entropy_frame(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str = "entropy",
    n_col: str = "n_chars",
) -> DataFrame:
    """The pipeline form of :func:`char_entropy`: identical values, but
    the normalized text, the 36-count array, and the total are MATERIALIZED
    as separate projections, so each is computed exactly once per row —
    codegen cannot re-evaluate across projection boundaries the way it
    re-evaluates inlined subtrees inside HOF lambdas (measured >100x:
    1.5 s vs 174 s over the sf0.1 corpus).  Adds (out_col, n_col) to ``df``."""
    from remote_shuffle_spark.functions.hashing import normalized_text

    staged = (
        df.withColumn("_ce_nt", normalized_text(text_col))
        .withColumn(
            "_ce_cnts",
            F.array(
                *[
                    (
                        F.length("_ce_nt")
                        - F.length(F.replace(F.col("_ce_nt"), F.lit(c), F.lit("")))
                    ).cast("long")
                    for c in CHAR_ENTROPY_ALPHABET
                ]
            ),
        )
        .withColumn(
            n_col,
            F.aggregate(F.col("_ce_cnts"), F.lit(0).cast("long"), lambda a, x: a + x),
        )
        .withColumn(out_col, _entropy_from_counts(F.col("_ce_cnts"), F.col(n_col)))
    )
    return staged.drop("_ce_nt", "_ce_cnts")


def bpe_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a trained BPE merge list to a corpus — the ENCODE side of
    :func:`bpe_train` (train emits the merge table; this is what the
    tokenizer then does to every document).  Each merge is folded
    greedily left-to-right over the symbol string with the IDENTICAL
    :func:`_bpe_merge_fold` algebra training used, so train and apply
    agree on every boundary case (overlapping runs, repeated symbols).

    Scale shape — encode cost is VOCABULARY-bounded, not corpus-bounded:
    the merge folds run once per DISTINCT word (the same working-set
    collapse that makes bpe_train flat at 10x corpus), and documents get
    their per-word symbol counts back through one broadcastable
    word-keyed join.  Returns (id, n_words, symbols_char, symbols_bpe)
    per document: the char-level symbol count and the count after all
    merges — the compression the merge table buys.
    """
    words = df.select(
        F.col(id_col).alias("_ba_id"), F.explode(tokens(text_col)).alias("word")
    )
    encoded = words.select("word").distinct().select(
        "word",
        F.array_join(F.split("word", ""), "|").alias("_repr"),
    )
    for a, b in merges:
        encoded = encoded.select(
            "word",
            _bpe_merge_fold(F.split("_repr", r"\|"), a, b).alias("_repr"),
        )
    encoded = encoded.select(
        "word",
        F.length("word").alias("_char_syms"),
        F.size(F.split("_repr", r"\|")).alias("_bpe_syms"),
    )
    return (
        words.join(F.broadcast(encoded), "word")
        .groupBy("_ba_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_char_syms").cast("long").alias("symbols_char"),
            F.sum("_bpe_syms").cast("long").alias("symbols_bpe"),
        )
        .select(
            F.col("_ba_id").alias(id_col), "n_words", "symbols_char", "symbols_bpe"
        )
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    *,
    bucket_hex: int = 3,
) -> DataFrame:
    """DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling" — the
    public recipe for selecting raw-corpus documents that LOOK like a
    target corpus): per document, the log importance weight
    ``sum over bigram occurrences of ln(p_target(b) / p_source(b))``
    where ``b`` is the bigram's hashed feature bucket.

    Engine-replayable construction (no xxhash, no float accumulation):
      - bucket = the first ``bucket_hex`` hex chars of md5(bigram) — a
        16^bucket_hex-ary feature space as a STRING key, identical in
        any engine with md5 (the winnowing trick applied to feature
        hashing);
      - probabilities are Laplace-smoothed over the OBSERVED bucket set
        ``(cnt + 1) / (total + n_buckets)`` — exact integer inputs, no
        epsilon (snapshot_drift discipline);
      - each bucket's log-ratio is rounded to 6 decimals and the per-doc
        weight is a DECIMAL sum of those terms (label_entropy
        discipline: double-sum order is not engine-stable, a decimal sum
        of pre-rounded terms is).

    ``is_target`` is a boolean Column over ``df``'s rows (e.g.
    ``F.col("lang") == "en"``); the source distribution is the WHOLE
    frame, per the paper's raw-vs-target setup.  Documents with < 2
    tokens have no features and weight exactly 0.

    Returns (id, n_bigrams, log_w:decimal).

    Scale: one narrow bigram explode; bucket counts are a combinable
    groupBy on a <= 16^bucket_hex-row key space; the ratio table is tiny
    and broadcast; the only corpus-sized shuffle is the per-doc weight
    aggregation keyed by id.  At 100 TB the ratio table is computed once
    and reused across selection runs (it is the trained "classifier")."""
    tk = df.select(
        F.col(id_col).alias("_dw_id"),
        is_target.alias("_dw_tg"),
        tokens(text_col).alias("_dw_tk"),
    )
    bg = tk.filter(F.size("_dw_tk") >= 2).select(
        "_dw_id",
        "_dw_tg",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_dw_tk") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("_dw_tk"), i, 2)),
            )
        ).alias("_dw_bg"),
    ).select(
        "_dw_id",
        "_dw_tg",
        F.substring(F.md5(F.col("_dw_bg")), 1, bucket_hex).alias("_dw_b"),
    )
    # eager checkpoint: `cnt` (<= 16^bucket_hex rows) feeds both the
    # totals aggregate and the ratio table; without it the corpus-wide
    # bigram explode + count executes twice.
    cnt = bg.groupBy("_dw_b").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.sum(F.when(F.col("_dw_tg"), 1).otherwise(0)).alias("c_t"),
    ).localCheckpoint(eager=True)
    tot = cnt.agg(
        F.sum("c_s").alias("n_s"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("bb"),
    )
    p_t = (F.col("c_t") + 1) / (F.col("n_t") + F.col("bb"))
    p_s = (F.col("c_s") + 1) / (F.col("n_s") + F.col("bb"))
    ratio = F.broadcast(
        cnt.crossJoin(F.broadcast(tot)).select(
            "_dw_b",
            F.round(F.log(p_t / p_s), 6).cast("decimal(18,6)").alias("_dw_r"),
        )
    )
    docw = (
        bg.join(ratio, "_dw_b")
        .groupBy("_dw_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("_dw_r").alias("log_w"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_dw_id"))
        .join(docw, "_dw_id", "left")
        .select(
            F.col("_dw_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(
                "log_w", F.lit(0).cast("decimal(18,6)")
            ).alias("log_w"),
        )
    )


def inverted_postings(df, id_col: str, text_col: str):
    """Postings list for a persisted inverted index: one row per
    (token, doc) with term frequency, plus the index's PARTITION column
    ``bucket`` = first hex char of md5(token) — 16 buckets, engine-
    replayable (the md5/DSIR construction), so a DuckDB oracle rebuilds
    the identical layout and a term lookup's bucket set is computable
    driver-side without touching the index.

    One explode + one combinable (token, doc) count; the postings
    shuffle is token-keyed — the TF-IDF/inverted-index shape.
    """
    from pyspark.sql import functions as F

    from remote_shuffle_spark.functions.hashing import tokens as _toks

    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(_toks(text_col)).alias("tok")
    )
    return (
        toks.groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.substring(F.md5("tok"), 1, 1))
    )


def write_inverted_index(postings, path: str) -> None:
    """Persist postings ``partitionBy(bucket)`` — 16 directories, so a
    term lookup prunes to the probed terms' buckets via static partition
    filters (directory listing, not scanning — the ivf_pq_write_index
    layout discipline applied to text).  Within each bucket the postings
    are sorted by (tok, doc_id) so row-group footer ranges stay tight (the
    band-index footer-skipping mechanism).  The layout is recorded in the
    index manifest: ``plans.index_store.append_index`` writes each ingest
    generation into only the touched bucket directories the same way, and
    ``compact_index`` rewrites a bucket subset leaving the others
    byte-identical."""
    write_index(postings, path, layout=by_partition("bucket", "tok", "doc_id"))


def inverted_index_lookup(spark, path: str, terms: list[str], *, k: int = 10):
    """Conjunctive-first term lookup over the persisted index: docs
    ranked by (distinct matched terms DESC, total tf DESC, doc_id) —
    top ``k``, a total order.  The probed terms' md5 buckets are
    computed DRIVER-SIDE and pushed as a static IN on the partition
    column, so the read lists only those directories; the raw corpus is
    never touched.
    """
    import hashlib

    buckets = sorted({hashlib.md5(t.encode()).hexdigest()[:1] for t in terms})
    idx = (
        read_index(spark, path)
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tok").isin(list(terms)))
    )
    return (
        idx.groupBy("doc_id")
        .agg(
            F.count_distinct("tok").alias("n_matched"),
            F.sum("tf").alias("tf_sum"),
        )
        .orderBy(F.col("n_matched").desc(), F.col("tf_sum").desc(), "doc_id")
        .limit(k)
    )
