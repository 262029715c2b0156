"""ML query surface for the driver contract.

The k-means rows are genuinely non-SQL-expressible (iterative algorithm), so
they get the driver's rows-only check (SURVEY.md §5: ML stages validated by
invariants, not value equality — those invariants live in tests/test_ml.py).
The StandardScaler semantics ARE SQL-expressible (z-score with sample std),
so `standard_scaled` carries a full DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pyspark_kmeans_spark.ml.features import prepare_features
from pyspark_kmeans_spark.ml.kmeans import fit_kmeans, kmeans_scan, results_df
from pyspark_kmeans_spark.operators import segmentation as seg
from pyspark_kmeans_spark.sources.tables import load_table

# The 7-dim compat feature shape (SURVEY.md P6) mapped onto the testdata
# flagship columns.
FLAGSHIP_FEATURES = [
    "max_buy",
    "hit_rate",
    "strength",
    "log_age",
    "log_avg_buy",
    "log_min_buy",
    "log_max_buy",
]


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seg.customer_features(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "supplier"),
    )


def q_standard_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2 with a real oracle: z-score (sample std, mean-centered) of two
    customer revenue stats, extracted back out of the vector column."""
    stats = seg.customer_revenue_stats(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    )
    scaled, _ = prepare_features(stats, ["avg_buy", "max_buy"])
    arr = vector_to_array("features")
    return scaled.select(
        "o_custkey",
        F.round(arr[0], 6).alias("z_avg_buy"),
        F.round(arr[1], 6).alias("z_max_buy"),
    )


def q_kmeans_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M6+M7+S3: k-scan over the flagship 7-feature table; output in the
    reference's clustering_results layout (k, cluster, score, *features)."""
    # Persisted so the scaler fit and the scan read one materialization of
    # the join lineage (the same shape as pipeline.run).
    data = _flagship(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        scaled, _ = prepare_features(data, FLAGSHIP_FEATURES, handle_invalid="skip")
        # X1 parity (pyspark_kmeans.py:12): the feature table is tiny relative
        # to its shuffle partitioning (≤150 rows — events.user_id is bounded),
        # so collapse partitions before the iterative fits instead of letting
        # every k-means iteration schedule hundreds of near-empty tasks.
        result = kmeans_scan(scaled.coalesce(8), k_min=2, k_max=4, seed=1)
    finally:
        data.unpersist()
    return results_df(spark, result, FLAGSHIP_FEATURES)


def q_kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M4 on the embeddings table: array<float> → VectorUDT via
    array_to_vector, fit k=8, return cluster sizes."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector("embedding")
    )
    model = fit_kmeans(emb, 8, seed=1)
    return (
        model.transform(emb)
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


PCA_K = 8


def q_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML extension: PCA spectrum of the 64-dim embedding table — the
    explained-variance ratios of the top PCA_K components, the standard
    dimensionality-reduction report before truncating an embedding column
    (complements embedding_matryoshka, which measures prefix-dim
    truncation without a basis change).

    rows-only: the eigensolver is iterative and engine-specific.  The
    distributed work is MLlib's covariance accumulation over the vectors
    (one pass, tree-aggregated); the k×k eigendecomposition happens on
    the driver, and the output is O(k) rows.  Invariants pinned in
    tests/test_ml.py: ratios descending, positive, cumulative ≤ 1, and a
    2-d closed-form eigenvalue cross-check against exact DECIMAL moments."""
    from pyspark.ml.feature import PCA

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector("embedding")
    )
    model = PCA(k=PCA_K, inputCol="features", outputCol="pc").fit(emb)
    rows = [
        (i + 1, round(float(v), 6))
        for i, v in enumerate(model.explainedVariance)
    ]
    return spark.createDataFrame(
        rows, "component int, explained_variance double"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "standard_scaled": q_standard_scaled,
    "kmeans_centers": q_kmeans_centers,
    "kmeans_embedding_clusters": q_kmeans_embedding_clusters,
    "embedding_pca_variance": q_embedding_pca_variance,
}

ORACLES: dict[str, str] = {
    "standard_scaled": """
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
                       AS order_revenue
            FROM lineitem GROUP BY l_orderkey
        ), stats AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(order_revenue AS DECIMAL(18,6))) AS DOUBLE) / COUNT(order_revenue)
                       AS avg_buy,
                   MAX(order_revenue) AS max_buy
            FROM per_order JOIN orders ON per_order.l_orderkey = orders.o_orderkey
            GROUP BY o_custkey
        )
        SELECT o_custkey,
               ROUND((avg_buy - AVG(avg_buy) OVER ()) / STDDEV_SAMP(avg_buy) OVER (), 6)
                   AS z_avg_buy,
               ROUND((max_buy - AVG(max_buy) OVER ()) / STDDEV_SAMP(max_buy) OVER (), 6)
                   AS z_max_buy
        FROM stats
    """,
}
