"""Embedding clustering via pyspark.ml KMeans (EXT) — the production
centroid source for IVF similarity search.

``similarity.seed_centroids`` is the deterministic stand-in; this module
trains real k-means|| centroids with the same output contract
(cid, cvec), so ``ivf_topk`` can consume either.  pyspark.ml ships in the
container; gated behind import-try anyway for minimal environments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from remote_shuffle_spark.functions.vectors import to_double_array
from remote_shuffle_spark.sources.local import local_frame


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    *,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Train k-means|| on an array<float|double> column → (cid, cvec).

    Returns a DataFrame with the seed_centroids contract.  The train pass
    is Spark-distributed (pyspark.ml); at 100 TB fit on a sample
    (``df.sample``) — k-means centroids converge long before the full
    corpus is seen.

    ``k`` is clamped to the number of DISTINCT vectors: Spark ML's
    k-means|| init indexes out of bounds when it cannot find k distinct
    centers (tiny or degenerate corpora).  The guard costs one
    ``distinct().limit(k)`` — output bounded at k rows regardless of
    corpus size.
    """
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as e:  # pragma: no cover - ml ships in this container
        raise NotImplementedError("pyspark.ml not available for kmeans_centroids") from e

    arr = df.select(to_double_array(vec_col).alias("a"))
    # two-tier guard: a LIMITed prefix usually proves >= k distinct
    # vectors with a near-free job (no full-corpus distinct shuffle);
    # only degenerate corpora pay for the full bounded distinct
    n_distinct_bounded = arr.limit(max(64, 8 * k)).distinct().limit(k).count()
    if n_distinct_bounded < k:
        n_distinct_bounded = arr.distinct().limit(k).count()
    if n_distinct_bounded == 0:
        raise ValueError("kmeans_centroids: input has no vectors")
    k_eff = min(k, n_distinct_bounded)
    feats = arr.select(array_to_vector(F.col("a")).alias("features"))
    model = KMeans(k=k_eff, seed=seed, maxIter=max_iter).fit(feats)
    spark = df.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return local_frame(spark, rows, "cid long, cvec array<double>")


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    *,
    long_form: bool = True,
) -> DataFrame:
    """Element-wise mean embedding per label (class centroids).

    posexplode the vector → one combinable aggregation keyed by
    (label, dim) — the shuffle carries (label, dim, partial sum, count),
    never whole vectors, so the pattern holds at any corpus size and any
    dimensionality.  Sums go through DECIMAL so the result is independent
    of row order (exact, then one double division).

    ``long_form=True`` (default) returns (label, pos, value) — the
    joinable/oracle-checkable shape; ``False`` re-assembles an array per
    label (adds one small shuffle over #labels x dim rows).
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(to_double_array(vec_col)).alias("pos", "v"),
    )
    per_dim = exploded.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("value")
    )
    if long_form:
        return per_dim
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "value"))),
                lambda s: s["value"],
            ).alias("centroid")
        )
    )
