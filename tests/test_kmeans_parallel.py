"""Concurrent k-scan: each k's fit → silhouette → save runs on its own
driver thread, and the results must equal per-k calls made one after
another; the worker threads must keep the caller's job group."""

from __future__ import annotations

import os

from pyspark_kmeans_spark.ml.features import prepare_features
from pyspark_kmeans_spark.ml.kmeans import fit_kmeans, kmeans_scan, silhouette_score
from pyspark_kmeans_spark.ml.queries import FLAGSHIP_FEATURES, _flagship
from tests.spark_jobs import jobs_since, next_job_id


def scan_input(spark, sf_dir):
    data = _flagship(spark, sf_dir)
    scaled, _ = prepare_features(data, FLAGSHIP_FEATURES, handle_invalid="skip")
    scaled = scaled.coalesce(4).cache()
    scaled.count()
    return scaled


def test_parallel_equals_sequential(spark, sf_dir, tmp_path):
    # local[4] → 4 workers for 5 k values: one k waits for a free worker.
    assert spark.sparkContext.defaultParallelism == 4
    scaled = scan_input(spark, sf_dir)
    try:
        models = str(tmp_path / "models")
        par = kmeans_scan(scaled, 2, 6, seed=1, models_dir=models)
        for k in range(2, 7):
            model = fit_kmeans(scaled, k, seed=1)
            assert par.centers[k] == [c.tolist() for c in model.clusterCenters()]
            assert par.silhouette[k] == silhouette_score(model, scaled)
            assert par.model_paths[k] == os.path.join(models, f"model_w_k_{k}")
            assert os.path.isdir(par.model_paths[k])
    finally:
        scaled.unpersist()


def test_scan_workers_keep_callers_job_group(spark, sf_dir):
    sc = spark.sparkContext
    scaled = scan_input(spark, sf_dir)
    first = next_job_id(sc)
    sc.setJobGroup("kscan-group", "caller")
    try:
        kmeans_scan(scaled, 2, 3, seed=1)  # two k values → two workers
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        scaled.unpersist()
    jobs = jobs_since(sc, first)
    assert jobs
    assert sorted(sc.statusTracker().getJobIdsForGroup("kscan-group")) == [
        j[0] for j in jobs
    ]
    assert {desc for _, _, desc in jobs} == {"kmeans_scan k=2", "kmeans_scan k=3"}
