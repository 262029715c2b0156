"""End-to-end compat pipeline test: five reference-shaped CSVs → features →
k-scan → results CSV → text report → (mock) email, plus the failure path."""

from __future__ import annotations

import csv
import datetime
import os
import threading

import pytest

from pyspark_kmeans_spark import reporting
from pyspark_kmeans_spark.pipeline import PipelineConfig, run
from tests.spark_jobs import jobs_since, next_job_id, persistent_rdd_ids


class FakeTransport:
    def __init__(self):
        self.sent = []

    def send_message(self, msg):
        self.sent.append(msg)


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("gamedata")
    ts = "2016-01-01 00:00:00"
    _write_csv(
        d / "users.csv",
        ["timestamp", "userId", "nick", "twitter", "dob", "country"],
        [[ts, u, f"n{u}", f"@n{u}", f"19{70 + u % 20}-01-15", "US"] for u in range(40)],
    )
    _write_csv(
        d / "buy-clicks.csv",
        ["timestamp", "txId", "userSessionId", "team", "userId", "buyId", "price"],
        [
            [ts, i, 100 + u, 1, u, i % 6, float(1 + (u * 7 + i) % 20)]
            for i, u in enumerate(u for u in range(40) for _ in range(3))
        ],
    )
    _write_csv(
        d / "game-clicks.csv",
        ["timestamp", "clickId", "userId", "userSessionId", "isHit", "teamId", "teamLevel"],
        [
            [ts, i, u, 100 + u, (u + i) % 2, u % 5, 1]
            for i, u in enumerate(u for u in range(40) for _ in range(5))
        ],
    )
    _write_csv(
        d / "user-session.csv",
        [
            "timestamp",
            "userSessionId",
            "userId",
            "teamId",
            "assignmentId",
            "sessionType",
            "platformType",
            "teamLevel",
        ],
        [[ts, 100 + u, u, u % 5, 1, "start", "pc", 1] for u in range(35)],
    )
    _write_csv(
        d / "team.csv",
        ["teamId", "name", "teamCreationTime", "teamEndTime", "strength", "currentLevel"],
        [[t, f"team{t}", ts, ts, float(10 * t + 5), 1] for t in range(5)],
    )
    return str(d)


def test_pipeline_happy_path(spark, data_dir, tmp_path):
    transport = FakeTransport()
    cfg = PipelineConfig(
        data_dir=data_dir,
        results_path=str(tmp_path / "results_csv"),
        models_dir=str(tmp_path / "models"),
        k_min=2,
        k_max=3,
        num_partitions=4,
    )
    out = run(spark, cfg, email_transport=transport)
    assert out["status"] == "ok"
    assert out["best_k"] in (2, 3)
    assert set(out["silhouette"]) == {2, 3}

    # S3 contract: header ['k','cluster','score',*features], one row/center
    data = reporting.load_results_csv(cfg.results_path)
    assert list(data.columns)[:3] == ["k", "cluster", "score"]
    assert len(data) == 2 + 3

    # models persisted per k (S4)
    assert os.path.isdir(os.path.join(cfg.models_dir, "model_w_k_2"))

    # report content + email (S9)
    assert "best k by silhouette" in out["report"]
    assert len(transport.sent) == 1
    assert transport.sent[0]["Subject"] == "Kmeans Spark Scanning Completed"


def test_pipeline_failure_email(spark, tmp_path):
    transport = FakeTransport()
    cfg = PipelineConfig(
        data_dir=str(tmp_path / "missing"),
        results_path=str(tmp_path / "r"),
        models_dir=str(tmp_path / "m"),
    )
    with pytest.raises(Exception):
        run(spark, cfg, email_transport=transport)
    assert len(transport.sent) == 1
    assert transport.sent[0]["Subject"] == "ERROR: Kmeans Spark Scanning Failed!"
    # unlike the reference, the traceback is included
    assert "Traceback" in transport.sent[0].get_content()


def test_pipeline_rejects_bad_k_range_before_any_spark_work(spark, data_dir, tmp_path):
    sc = spark.sparkContext
    transport = FakeTransport()
    cfg = PipelineConfig(
        data_dir=data_dir,
        results_path=str(tmp_path / "r"),
        models_dir=str(tmp_path / "m"),
        k_min=6,
        k_max=2,
    )
    first = next_job_id(sc)
    with pytest.raises(ValueError, match="invalid k range"):
        run(spark, cfg, email_transport=transport)
    assert jobs_since(sc, first) == []
    assert len(transport.sent) == 1
    assert transport.sent[0]["Subject"] == "ERROR: Kmeans Spark Scanning Failed!"


def test_pipeline_releases_caches_and_threads(spark, data_dir, tmp_path, monkeypatch):
    """Nothing stays persisted and no scan worker stays alive, both after a
    successful run and after a run whose scan fails for one k while
    another k is still fitting; the failure reaches the email."""
    from pyspark_kmeans_spark.ml import kmeans

    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)

    def config(tag):
        return PipelineConfig(
            data_dir=data_dir,
            results_path=str(tmp_path / f"results_{tag}.csv"),
            models_dir=str(tmp_path / f"models_{tag}"),
            k_min=2,
            k_max=3,
            num_partitions=4,
        )

    def scan_threads():
        return [t for t in threading.enumerate() if t.name.startswith("kmeans_scan")]

    assert run(spark, config("ok"), email_transport=FakeTransport())["status"] == "ok"
    assert persistent_rdd_ids(sc) == before
    assert scan_threads() == []

    real_fit = kmeans.fit_kmeans
    k2_started = threading.Event()

    def fit_or_fail(data, k, **kwargs):
        if k == 3:
            assert k2_started.wait(timeout=60)
            raise RuntimeError("planted fit failure for k=3")
        k2_started.set()
        return real_fit(data, k, **kwargs)

    monkeypatch.setattr(kmeans, "fit_kmeans", fit_or_fail)
    transport = FakeTransport()
    with pytest.raises(RuntimeError, match="planted fit failure"):
        run(spark, config("fail"), email_transport=transport)
    assert persistent_rdd_ids(sc) == before
    assert scan_threads() == []
    assert len(transport.sent) == 1
    assert "planted fit failure for k=3" in transport.sent[0].get_content()


# Spark jobs one pipeline.run takes on the module's fixture (k 2..3):
# measured 48, and 55 before the feature table was persisted once.  A
# second run of the CSV→join→aggregate lineage, or scan jobs that leave
# the caller's job group, break this test.
PIPELINE_JOB_BUDGET = 48


def test_pipeline_spark_job_budget(spark, data_dir, tmp_path):
    sc = spark.sparkContext
    cfg = PipelineConfig(
        data_dir=data_dir,
        results_path=str(tmp_path / "results.csv"),
        models_dir=str(tmp_path / "models"),
        k_min=2,
        k_max=3,
        num_partitions=4,
    )
    first = next_job_id(sc)
    sc.setJobGroup("pipeline-job-budget", "pipeline.run")
    try:
        run(spark, cfg, email_transport=FakeTransport())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = jobs_since(sc, first)
    assert {group for _, group, _ in jobs} == {"pipeline-job-budget"}
    assert len(jobs) <= PIPELINE_JOB_BUDGET


def test_spark_native_report_forms(spark, sf_dir):
    from pyspark_kmeans_spark.ml.queries import FLAGSHIP_FEATURES, q_kmeans_centers
    from pyspark_kmeans_spark.reporting import (
        distinct_ks,
        melt_centers,
        with_cluster_ids,
    )

    results = q_kmeans_centers(spark, sf_dir).cache()
    with_ids = with_cluster_ids(results)
    ids = {
        (r.k, r.cluster_id) for r in with_ids.collect()
    }
    assert all(1 <= c <= k for k, c in ids)  # W1
    melted = melt_centers(results, FLAGSHIP_FEATURES)
    assert melted.count() == results.count() * len(FLAGSHIP_FEATURES)  # W2
    assert distinct_ks(results) == [2, 3, 4]  # W3


def test_minimal_pdf_report_is_structurally_valid(tmp_path):
    """S7: the dependency-free writer must emit a parseable PDF — header,
    every xref offset landing on its object, startxref landing on the xref
    table, and the report text embedded in the content streams."""
    import re

    import pandas as pd

    data = pd.DataFrame(
        {
            "k": [2, 2, 3, 3, 3],
            "cluster": [1, 2, 1, 2, 3],
            "score": [0.41, 0.41, 0.57, 0.57, 0.57],
            "max_buy": [1.0, 2.0, 1.5, 2.5, 3.5],
            "hit_rate": [0.1, 0.2, 0.15, 0.25, 0.35],
        }
    )
    out = str(tmp_path / "report.pdf")
    reporting.generate_pdf_report(data, out)
    raw = open(out, "rb").read()
    assert raw.startswith(b"%PDF-1.4\n") and raw.rstrip().endswith(b"%%EOF")
    startxref = int(raw[raw.rindex(b"startxref") :].split()[1])
    assert raw[startxref : startxref + 4] == b"xref"
    entries = re.findall(rb"(\d{10}) 00000 n", raw)
    for i, off in enumerate(int(e) for e in entries):
        assert raw[off:].startswith(b"%d 0 obj" % (i + 1)), f"xref entry {i+1}"
    assert b"(best k by silhouette: 3 \\(score=0.570000\\)) Tj" in raw


def test_svg_pointplots_are_valid_xml(tmp_path):
    """S8: plot sink writes one score plot + one per-k cluster plot, each
    well-formed SVG with the expected marker counts."""
    import xml.etree.ElementTree as ET

    import pandas as pd

    data = pd.DataFrame(
        {
            "k": [2, 2, 3, 3, 3],
            "cluster": [1, 2, 1, 2, 3],
            "score": [0.41, 0.41, 0.57, 0.57, 0.57],
            "max_buy": [1.0, 2.0, 1.5, 2.5, 3.5],
            "hit_rate": [0.1, 0.2, 0.15, 0.25, 0.35],
        }
    )
    paths = reporting.generate_plot_svgs(data, str(tmp_path / "plots"))
    assert [os.path.basename(p) for p in paths] == [
        "score.svg",
        "clusters_plot_2.svg",
        "clusters_plot_3.svg",
    ]
    ns = "{http://www.w3.org/2000/svg}"
    root = ET.parse(paths[0]).getroot()
    # 2 k-values -> 2 data markers + 1 legend marker
    assert len(root.findall(f"{ns}circle")) == 3
    assert "Silhouette scores by k" in ET.tostring(root, encoding="unicode")
    root3 = ET.parse(paths[2]).getroot()
    # k=3: 3 clusters x 2 features = 6 data markers + 3 legend markers
    assert len(root3.findall(f"{ns}circle")) == 9
    assert len(root3.findall(f"{ns}polyline")) == 3


def test_clustering_results_csv_golden_layout(spark, data_dir, tmp_path):
    """S3 sink golden (VERDICT r5 stretch item 8): the byte layout of
    clustering_results.csv — THIS REPO'S EXTENSION of the reference
    format.  The reference writes 'k,score,<features>' with no cluster
    column (utils/kmeans_utils.py:125-130 writerow(['k']+['score']+
    features)) and its reports.py synthesizes the cluster index itself;
    we emit the index explicitly as a 'cluster' column so the row
    identity is self-describing (our reader handles both shapes).  Pins
    the extended layout: the exact header line, row order
    (k ascending, cluster index 0..k-1 within each k), csv.writer float
    formatting (repr, no padding), trailing CRLF-free lines, and BYTE
    determinism — two runs with compat defaults produce identical files
    (seeded k-means, driver-local writer)."""
    cfg_kwargs = dict(
        data_dir=data_dir,
        k_min=2,
        k_max=3,
        num_partitions=4,
    )
    raws = []
    for tag in ("a", "b"):
        cfg = PipelineConfig(
            results_path=str(tmp_path / f"results_{tag}.csv"),
            models_dir=str(tmp_path / f"models_{tag}"),
            **cfg_kwargs,
        )
        run(spark, cfg, email_transport=FakeTransport())
        with open(cfg.results_path, "rb") as f:
            raws.append(f.read())
    assert raws[0] == raws[1], "clustering_results.csv is not byte-deterministic"

    lines = raws[0].decode().splitlines()
    features = list(PipelineConfig("", "", "").feature_cols)
    assert lines[0] == ",".join(["k", "cluster", "score", *features])
    rows = [line.split(",") for line in lines[1:]]
    # one row per (k, center): k=2 -> 2 rows, k=3 -> 3 rows, k ascending,
    # cluster index dense ascending within each k.
    assert [(r[0], r[1]) for r in rows] == [
        ("2", "0"), ("2", "1"), ("3", "0"), ("3", "1"), ("3", "2")
    ]
    # score constant per k, pinned for EVERY k (the old inline
    # conditional-expression assert was vacuously True for k=3 rows —
    # ADVICE r6 #5).
    by_k: dict[str, set[str]] = {}
    for r in rows:
        by_k.setdefault(r[0], set()).add(r[2])
    for k, scores in by_k.items():
        assert len(scores) == 1, f"score not constant within k={k}: {scores}"
    for r in rows:
        # every cell parses as a finite float and round-trips repr
        # (csv.writer writes repr(float) exactly).
        for cell in r[2:]:
            v = float(cell)
            assert v == v and abs(v) != float("inf")
            assert repr(v) == cell


def test_clamp_plan_string_length_is_monotonic_lower(spark):
    """The defensive plan-string clamp (driver-heap OOM guard for the
    deepest AQE trees) only ever LOWERS the conf: an untuned session gets
    the ceiling, an already-tighter session keeps its own bound."""
    from pyspark_kmeans_spark.session import (
        PLAN_STRING_MAX_CHARS,
        clamp_plan_string_length,
    )

    key = "spark.sql.maxPlanStringLength"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, str(PLAN_STRING_MAX_CHARS * 4))
        clamp_plan_string_length(spark)
        assert int(spark.conf.get(key)) == PLAN_STRING_MAX_CHARS
        spark.conf.set(key, "1000")
        clamp_plan_string_length(spark)
        assert int(spark.conf.get(key)) == 1000, "must not raise a tighter bound"
    finally:
        spark.conf.set(key, orig)
