"""K-means scan: fit a range of k, score each with silhouette, persist models.

Reference parity (SURVEY.md §2.9 M3-M7, utils/kmeans_utils.py:80-109) with
three deliberate improvements over the reference:

 1. **Explicit caching.**  The reference recomputed the full
    CSV→join→scale lineage for every fit/evaluate across all k
    (SURVEY.md §3) — at 100 TB that is k× the whole pipeline cost.  Here the
    scaled `features` column is cached once and unpersisted at the end.
 2. **Concurrent k.**  Each fit is a chain of 10-20 small Spark jobs
    coordinated by the driver, so one k at a time leaves the cores idle
    between Lloyd iterations: in a `segment` benchmark pass (1,000 users,
    k 2..3, 4 vCPUs) the sequential scan used 1.6 executor-CPU-s over
    4.4 s of wall, the sum of the per-k chains (2.4 s + 1.9 s).  The
    scan therefore runs every k's fit → silhouette → save on its own
    driver thread, min(#k, defaultParallelism) at a time; the same
    pass's scan wall fell to 2.6 s, the slowest k's chain.  Under Spark's
    default FIFO scheduler a later k's tasks only take slots the earlier
    fits leave idle, every k reads the one cached input, and each extra
    fit holds only k×dim centers on the driver.
 3. **Results as a DataFrame** extending the reference's
    ``clustering_results.csv`` layout: the reference writes header
    ['k','score',*features] (one row per (k, center) —
    utils/kmeans_utils.py:123-130) and has its report stage re-derive the
    cluster index positionally; we add an explicit 'cluster' column
    (header ['k','cluster','score',*features]) so rows are
    self-describing, writable via ``df.write.csv`` instead of a
    driver-local csv.writer.  Our reader accepts both shapes.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.ml.clustering import KMeans, KMeansModel
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from pyspark_kmeans_spark.ml.features import FEATURES_COL


@dataclass
class KScanResult:
    """Per-k centers and silhouette scores (utils/kmeans_utils.py:88-89)."""

    centers: dict[int, list[list[float]]] = field(default_factory=dict)
    silhouette: dict[int, float] = field(default_factory=dict)
    model_paths: dict[int, str] = field(default_factory=dict)

    def best_k(self) -> int:
        return max(self.silhouette, key=self.silhouette.get)


def fit_kmeans(
    data: DataFrame,
    k: int,
    *,
    seed: int = 1,
    features_col: str = FEATURES_COL,
    max_iter: int = 20,
    tol: float = 1e-4,
) -> KMeansModel:
    """M3: one KMeans fit with the reference's defaults
    (seed=1, k-means|| init, maxIter=20, tol=1e-4 — utils/kmeans_utils.py:101-103)."""
    km = (
        KMeans()
        .setK(k)
        .setSeed(seed)
        .setFeaturesCol(features_col)
        .setMaxIter(max_iter)
        .setTol(tol)
    )
    return km.fit(data)


def silhouette_score(
    model: KMeansModel, data: DataFrame, *, features_col: str = FEATURES_COL
) -> float:
    """M4+M5: assign clusters then evaluate squared-Euclidean silhouette
    (utils/kmeans_utils.py:104-105)."""
    evaluator = (
        ClusteringEvaluator().setFeaturesCol(features_col).setPredictionCol("prediction")
    )
    return evaluator.evaluate(model.transform(data))


def check_k_range(k_min: int, k_max: int) -> None:
    """Reject a k range the scan cannot run.  Callers with expensive data
    preparation call this before any of it, so a bad range fails before
    any Spark work instead of as best_k()'s bare max()-of-empty at the
    end."""
    if k_min < 2 or k_max < k_min:
        raise ValueError(
            f"kmeans_scan: invalid k range [{k_min}, {k_max}] — need "
            "2 <= k_min <= k_max"
        )


def kmeans_scan(
    data: DataFrame,
    k_min: int = 2,
    k_max: int = 6,
    *,
    seed: int = 1,
    features_col: str = FEATURES_COL,
    models_dir: str | None = None,
    cache: bool = True,
) -> KScanResult:
    """M7: scan k in [k_min, k_max], returning centers + silhouette per k.

    Each k's fit → silhouette → model save runs on its own driver thread,
    min(#k, defaultParallelism) at a time (module docstring, point 2).
    Worker threads inherit the caller's local properties (job group,
    scheduler pool, tags) and label their jobs ``kmeans_scan k=<k>``.
    Results do not depend on thread order: fits are seeded, every k reads
    the same cached input and writes its own model path.  If a k fails,
    queued k values are dropped, running ones finish, the cache is
    released and the first failing k's error (in k order) is raised.

    Unlike the reference, the input is cached across fits and the tmp dir is
    NOT wiped (the reference rm-rf'ed it — utils/kmeans_utils.py:95-98; we
    treat model paths as immutable artifacts and use overwrite()).
    ``cache=True`` caches only ``features_col``, the one column the fits
    and the silhouette read.
    """
    check_k_range(k_min, k_max)
    spark = data.sparkSession
    if cache:
        data = data.select(features_col).persist(StorageLevel.MEMORY_AND_DISK)

    def one_k(k: int) -> tuple[list, float, str | None]:
        spark.sparkContext.setJobDescription(f"kmeans_scan k={k}")
        model = fit_kmeans(data, k, seed=seed, features_col=features_col)
        score = silhouette_score(model, data, features_col=features_col)
        centers = [c.tolist() for c in model.clusterCenters()]
        path = None
        if models_dir is not None:
            path = os.path.join(models_dir, f"model_w_k_{k}")
            model.write().overwrite().save(path)
        return centers, score, path

    ks = range(k_min, k_max + 1)
    pool = ThreadPoolExecutor(
        min(len(ks), spark.sparkContext.defaultParallelism),
        thread_name_prefix="kmeans_scan",
    )
    try:
        # One wrapper per k: each clones the caller's local properties, so
        # one k's job description cannot overwrite another's.
        futures = {
            k: pool.submit(inheritable_thread_target(spark)(one_k), k) for k in ks
        }
        outs = {k: f.result() for k, f in futures.items()}
    finally:
        # After a failure: drop the queued k values, wait for running ones.
        pool.shutdown(cancel_futures=True)
        if cache:
            data.unpersist()

    result = KScanResult()
    for k, (centers, score, path) in outs.items():
        result.centers[k] = centers
        result.silhouette[k] = score
        if path is not None:
            result.model_paths[k] = path
    return result


def load_kmeans_model(path: str) -> KMeansModel:
    """S5: model source (utils/kmeans_utils.py:133-143) — raises instead of
    the reference's sys.exit(1) so callers can handle the miss.  The local
    existence pre-check only applies to posix paths: a `scheme://` model
    location (HDFS/S3) is handed straight to KMeansModel.load, which
    resolves it through the Hadoop filesystem."""
    if "://" not in path and not os.path.exists(path):
        raise FileNotFoundError(f"no persisted k-means model at {path}")
    return KMeansModel.load(path)


def _result_header_and_rows(
    result: KScanResult, feature_names: list[str]
) -> tuple[list[str], list[tuple]]:
    """The clustering_results contract, shared by the DataFrame and the
    driver-local CSV forms: header ['k','cluster','score',*features], one
    row per (k, center), k ascending, centers in MLlib index order."""
    header = ["k", "cluster", "score", *feature_names]
    rows = []
    for k in sorted(result.centers):
        for idx, center in enumerate(result.centers[k]):
            rows.append(
                (k, idx, float(result.silhouette[k]), *[float(x) for x in center])
            )
    return header, rows


def results_df(
    spark: SparkSession, result: KScanResult, feature_names: list[str]
) -> DataFrame:
    """S3: the clustering_results.csv contract as a DataFrame (see
    _result_header_and_rows; utils/kmeans_utils.py:123-130).
    A `cluster` index column is added (the reference relied on file order —
    SURVEY.md §2.5 W1; an explicit key survives any partitioning).
    The schema is built as a StructType, not a DDL string — zero features
    or exotic column names must not produce an unparseable schema."""
    from pyspark.sql import types as T

    header, rows = _result_header_and_rows(result, feature_names)
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("score", T.DoubleType()),
            *[T.StructField(name, T.DoubleType()) for name in feature_names],
        ]
    )
    return spark.createDataFrame(rows, schema)


def save_clustering_results(
    spark: SparkSession,
    result: KScanResult,
    feature_names: list[str],
    path: str,
    *,
    distributed: bool = False,
) -> None:
    """S3 sink: clustering-results CSV.

    Default is a driver-local single-file write — the reference's own form
    (`utils/kmeans_utils.py:112-130` uses `csv.writer`), and the right one:
    the data is O(k²·dim) rows, while a Hadoop-path write pays fixed
    committer/filesystem overhead (measured ~4 s per tiny write on this
    host) regardless of size.  `distributed=True` keeps the
    `df.write.csv` directory form for callers that want the results on
    shared/object storage; a `scheme://` path routes there automatically
    (the driver-local form is posix-only).  Overwrite semantics match the
    old default: an existing file OR result directory at `path` is
    replaced, and missing parent directories are created."""
    if distributed or "://" in path:
        results_df(spark, result, feature_names).coalesce(1).write.mode(
            "overwrite"
        ).option("header", True).csv(path)
        return
    import csv
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path)
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    # The rows already live on the driver — write them directly; a
    # createDataFrame+collect round trip would pay a Spark job in the very
    # sink that exists to avoid Spark write overhead.
    header, rows = _result_header_and_rows(result, feature_names)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
