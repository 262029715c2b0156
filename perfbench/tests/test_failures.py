import argparse
import os

import pandas as pd
import pytest

import run
from workloads import Ctx, Engine, Op, Segment, Workload


class FakeDF:
    def __init__(self, value):
        self.value = value

    def toPandas(self):
        return self.value


class FakeCatalog:
    def clearCache(self):
        pass


class FakeSpark:
    sparkContext = None
    catalog = FakeCatalog()


def boom(spark):
    raise RuntimeError("op failed")


class FakeWorkload(Workload):
    name = "fake"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sink = ctx.work

    def ops(self):
        return [
            Op("good", "operators.fake", lambda spark: FakeDF("right")),
            Op("raises", "operators.fake", boom),
            Op("wrong", "operators.fake", lambda spark: FakeDF("not right")),
        ]

    def sinks(self):
        return [self.sink]

    def check(self, op, pdf):
        return pdf == "right"


@pytest.fixture
def runner(tmp_path, monkeypatch):
    monkeypatch.setitem(run.WORKLOADS, "fake", FakeWorkload)
    monkeypatch.setenv("CARGO_TARGET_DIR", str(tmp_path))
    args = argparse.Namespace(workload="fake", seed=1, seconds=1.0, trace=0)
    r = run.Runner(args, str(tmp_path))
    os.makedirs(r.work)
    r.spark = FakeSpark()
    r.jvm_pid = os.getpid()
    r.jvm_gc_s = lambda: 0.0
    r.peak_rss = 0.0
    return r


def test_raised_and_wrong_output_both_count_as_failed(runner):
    tracer = run.Tracer(runner.spark, "t", enabled=False)
    runner.one_pass(0, tracer)
    assert runner.attempted == 3
    assert len(runner.failed) == 2
    assert any(f.startswith("raises: RuntimeError") for f in runner.failed)
    assert "wrong: wrong output" in runner.failed
    assert runner.failed_frac() == pytest.approx(2 / 3)


def test_every_pass_checks_outputs(runner):
    tracer = run.Tracer(runner.spark, "t", enabled=False)
    runner.one_pass(0, tracer)
    rec = runner.one_pass(1, tracer)
    assert runner.attempted == 6
    assert runner.failed_frac() == pytest.approx(4 / 6)
    assert set(rec["ops"]) == {"good", "raises", "wrong"}
    assert not runner.violations


def test_layer_metrics_sum_self_time_and_jobs_per_layer():
    spans = [
        {"name": "op.q", "start": 0.0, "end": 3.0, "parent": None},
        {"name": "operators.dedup.plan", "start": 0.0, "end": 1.0, "parent": 0, "jobs": 1, "exec_cpu_s": 0.5},
        {"name": "operators.dedup.exec", "start": 1.0, "end": 3.0, "parent": 0, "jobs": 2, "exec_cpu_s": 5.0,
         "shuffle_mb": 1.5, "python_cpu_s": 0.25},
    ]
    m = run.layer_metrics(spans)
    assert m["operators.dedup.plan_s"] == pytest.approx(1.0)
    assert m["operators.dedup.exec_s"] == pytest.approx(2.0)
    assert m["operators.dedup.jobs"] == 3
    assert m["operators.dedup.exec_cpu_s"] == pytest.approx(5.5)
    assert m["operators.dedup.cores_busy"] == pytest.approx(5.5 / 2.0)
    assert m["operators.dedup.python_cpu_s"] == pytest.approx(0.25)


class FailingSegment(Segment):
    """The paper's pipeline, with the pipeline call raising."""

    def generate(self):
        pass

    def ops(self):
        return [Op("pipeline", "pipeline", boom, span="pipeline.self")]


def test_raising_pipeline_counts_once_and_does_not_end_the_run(runner, monkeypatch):
    monkeypatch.setitem(run.WORKLOADS, "fake", FailingSegment)
    runner.wl = FailingSegment(Ctx(1, runner.work))
    tracer = run.Tracer(runner.spark, "t", enabled=False)
    for i in range(2):  # the second pass must not see the first one's output
        runner.one_pass(i, tracer)
    assert runner.attempted == 2
    assert runner.failed == ["pipeline: RuntimeError: op failed"] * 2
    assert not os.path.exists(os.path.join(runner.work, "pass1"))


def test_segment_check_of_a_missing_output_is_a_failure(tmp_path):
    seg = Segment(Ctx(1, str(tmp_path)))
    seg.before_pass(None, 0)
    assert seg.after_pass(None, 0) == ["pipeline"]


def lsh_check(got_pairs, exact_pairs):
    eng = Engine(Ctx(2, "unused"))
    eng.ctx.expected["dedup_minhash_lsh"] = ("lsh_recall", set(exact_pairs))
    pdf = pd.DataFrame(got_pairs, columns=["doc_a", "doc_b"])
    return eng.check(Op("dedup_minhash_lsh", "operators.dedup", None), pdf)


def test_lsh_pairs_must_be_exact_pairs_with_recall_at_the_floor():
    exact = [(i, i + 1000) for i in range(40)]
    assert lsh_check(exact, exact)
    assert lsh_check(exact[:38], exact)  # recall 0.95, the registered floor
    assert not lsh_check(exact[:37], exact)  # recall below the floor
    assert not lsh_check([], exact)
    assert not lsh_check(exact + [(1, 2)], exact)  # a pair that is not exact
    assert not lsh_check([], [])  # a seed without planted pairs proves nothing
