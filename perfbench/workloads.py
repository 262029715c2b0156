"""The benchmark workloads: inputs, set-up, operation list, checks.

Every operation is one call into the engine's public API from outside the
package.  A query operation calls a registered query function (looked up
on its module at call time, so a traced run's patches apply) and forces
the returned DataFrame by collecting it (``toPandas``; every output is
small) so it can be checked; an action operation (the pipeline) does its
own writes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from dataclasses import dataclass, field
from typing import Callable

import gen
from check import digest, duck, same_rows

PACKAGE = "pyspark_kmeans_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
DEFAULT_SEED = 1


@dataclass
class Op:
    name: str
    layer: str  # engine module, package prefix dropped: "operators.dedup"
    call: Callable  # (spark) -> DataFrame to force, or None for actions
    span: str = ""  # actions only: the span (layer.kind) the call runs under


@dataclass
class Ctx:
    seed: int
    work: str  # per-run scratch root inside the checkout
    data: str = ""
    expected: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def _registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def query_op(name: str, sf_dir: Callable[[], str]) -> Op:
    queries, _ = _registry()
    fn = queries[name]
    mod, attr = fn.__module__, fn.__name__
    layer = mod[len(PACKAGE) + 1 :]
    return Op(name, layer, lambda spark: getattr(sys.modules[mod], attr)(spark, sf_dir()))


def _load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


class Workload:
    """Base: a workload over one generated sf-dir of registered queries."""

    name = ""
    query_names: tuple[str, ...] = ()
    sizes: dict = {}
    read_only = True
    # Untimed passes before the timed ones, and the fewest timed passes a
    # run reports the median of.  A fresh JVM's JIT keeps compiling what
    # the first pass made hot through the next few passes, so a pass taken
    # too early lands on that slope, and where it lands differs by run.
    warmup_passes = 2
    timed_passes = 1
    jvm_opts = ""  # extra driver JVM options

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        ctx.data = os.path.join(ctx.work, "data")

    # -- inputs and set-up ----------------------------------------------
    def generate(self) -> None:
        gen.write_sf_dir(self.ctx.data, self.ctx.seed, **self.sizes)

    def build(self, spark) -> None:
        """First-touch artifact builds (reported as prepare.build_s)."""

    def register(self, spark) -> None:
        """Re-resolve every artifact the ops read (memoised handles)."""
        self.build(spark)

    def ops(self) -> list[Op]:
        return [query_op(n, lambda: self.ctx.data) for n in self.query_names]

    def before_pass(self, spark, i: int) -> None:
        """Untimed, before each pass."""

    def sinks(self) -> list[str]:
        """Directories whose growth during a pass counts as written_mb."""
        from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE

        return [_WAREHOUSE]

    # -- checks ------------------------------------------------------------
    def expect(self, spark) -> None:
        """Compute, once per seed, what each op's output must be: the DuckDB
        oracle where the engine registers one; otherwise the committed
        digest (default seed) or, on other seeds, the op's registered quality
        gate (``seed_check``)."""
        _, oracles = _registry()
        con = duck(self.ctx.data, gen.TPCH_TABLES + ("events", "documents", "embeddings"))
        digests = _load_digests().get(self.name, {})
        self.oracles = oracles
        for n in self.query_names:
            if n in oracles:
                self.ctx.expected[n] = ("rows", con.execute(oracles[n]).fetchdf())
            elif self.ctx.seed == DEFAULT_SEED and n in digests:
                self.ctx.expected[n] = ("digest", digests[n])
            else:
                self.ctx.expected[n] = self.seed_check(con, n)
        con.close()

    def seed_check(self, con, name):
        raise KeyError(f"{name}: no oracle, digest or seed-independent check")

    def check(self, op: Op, pdf) -> bool:
        """Does one op's collected output match its expectation?"""
        how, want = self.ctx.expected[op.name]
        if how == "rows":
            return same_rows(pdf, want)
        if how == "digest":
            return digest(pdf) == want
        raise ValueError(how)

    def after_pass(self, spark, i: int) -> list[str]:
        """Untimed output checks of action ops; returns failed op names."""
        return []

    # -- tracing -----------------------------------------------------------
    def patch(self, tracer) -> None:
        """Spans and counters for this workload's per-layer extras."""
        tracer.patch_counter(
            f"{PACKAGE}.functions.warehouse_memo", "memo_get",
            "functions.warehouse_memo.calls", "functions.warehouse_memo.hits",
        )


class Engine(Workload):
    """Every operator layer beyond the paper's pipeline, one call each,
    over one generated sf-dir: the LLM-data read paths (MinHash-LSH dedup,
    LSH ANN, curation, text, multimodal), the digest-dedup ingest of
    today's batch (doc_id % 5 == 0) over prebuilt corpus artifacts, and
    the scan/join/exchange layers (relational, TPC-H, temporal, the
    bucketed layout, event sessions)."""

    name = "engine"
    query_names = (
        "dedup_minhash_lsh",
        "ann_lsh_topk",
        "curation_dup_ngrams",
        "text_quality",
        "multimodal_features",
        "daily_ingest",
        "customer_features",
        "tpch_q9",
        "asof_last_order",
        "bucketed_order_revenue",
        "event_user_sessions",
    )
    sizes = {"sf": 0.002, "n_docs": 500, "n_vecs": 300}

    def build(self, spark) -> None:
        from pyspark_kmeans_spark.operators.ingest import ensure_digest_table, ensure_lang_stats_table
        from pyspark_kmeans_spark.sources.bucketed import ensure_bucketed_tables

        ensure_digest_table(spark, self.ctx.data)
        ensure_lang_stats_table(spark, self.ctx.data)
        ensure_bucketed_tables(spark, self.ctx.data)

    def seed_check(self, con, name):
        if name == "dedup_minhash_lsh":
            # The registered quality gate of this op (checks.dedup_lsh_recall),
            # against the registered exact-Jaccard oracle on this seed's
            # documents: every emitted pair is an exact pair, and at least
            # LSH_RECALL_FLOOR of the exact pairs are emitted.
            exact = con.execute(self.oracles["dedup_jaccard_pairs"]).fetchdf()
            return ("lsh_recall", {(int(a), int(b)) for a, b in zip(exact["doc_a"], exact["doc_b"])})
        return super().seed_check(con, name)

    def check(self, op: Op, pdf) -> bool:
        how, exact = self.ctx.expected[op.name]
        if how != "lsh_recall":
            return super().check(op, pdf)
        from pyspark_kmeans_spark.operators.checks import LSH_RECALL_FLOOR

        got = {(int(a), int(b)) for a, b in zip(pdf["doc_a"], pdf["doc_b"])}
        return bool(exact) and len(got) == len(pdf) and got <= exact and len(got) >= LSH_RECALL_FLOOR * len(exact)


class FakeTransport:
    """Email transport that keeps messages in memory."""

    def __init__(self):
        self.sent = []

    def send_message(self, msg):
        self.sent.append(msg)


class Segment(Workload):
    """The paper's program: five CSVs → features → k-means scan scored by
    silhouette → results CSV, text report and email."""

    name = "segment"
    n_users = 1000
    K_MIN, K_MAX = 2, 3
    read_only = False
    # A pass is driver-side work (planning, job scheduling, Py4J; 20,000
    # users take as long as 1,000), which the default tiered JIT keeps
    # recompiling for several passes: pass wall 19 -> 7.3 -> 6.1 -> 5.3 s
    # and CPU 59 -> 24 -> 18 -> 14 s on a 4-core host, C2 compiler threads
    # included.  Compiled by C1 only, the second pass is within 10 % of the
    # later ones, so one warm-up pass and the median of three timed passes
    # fit the run's budget.
    jvm_opts = "-XX:TieredStopAtLevel=1"
    warmup_passes = 1
    timed_passes = 3

    def generate(self) -> None:
        gen.write_segment_csvs(self.ctx.data, self.ctx.seed, self.n_users)

    def _pass_dir(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"pass{i}")

    def before_pass(self, spark, i: int) -> None:
        self.pass_dir = self._pass_dir(i)
        os.makedirs(self.pass_dir, exist_ok=True)
        self.last = None

    def sinks(self) -> list[str]:
        return super().sinks() + [self.pass_dir]

    def ops(self) -> list[Op]:
        def pipeline(spark):
            from pyspark_kmeans_spark import pipeline as p

            cfg = p.PipelineConfig(
                data_dir=self.ctx.data,
                results_path=os.path.join(self.pass_dir, "results_csv"),
                models_dir=os.path.join(self.pass_dir, "models"),
                k_min=self.K_MIN,
                k_max=self.K_MAX,
            )
            transport = FakeTransport()
            self.last = (p.run(spark, cfg, email_transport=transport), cfg, transport)

        return [Op("pipeline", "pipeline", pipeline, span="pipeline.self")]

    def expect(self, spark) -> None:
        want = _load_digests().get(self.name, {}) if self.ctx.seed == DEFAULT_SEED else {}
        self.ctx.expected["pipeline"] = ("silhouette", want.get("silhouette"))

    def after_pass(self, spark, i: int) -> list[str]:
        try:
            ok = self.last is not None and self.check_pipeline()
        except Exception:  # a missing or malformed output is a wrong output
            ok = False
        finally:
            shutil.rmtree(self._pass_dir(i), ignore_errors=True)
        return [] if ok else ["pipeline"]

    def check_pipeline(self) -> bool:
        """Results-CSV layout (k, cluster, score, *features; one row per
        center, k ascending), best_k = argmax silhouette, scores equal to
        the returned silhouettes and, on the default seed, equal to the
        committed values; the first pass's values pin every later pass."""
        from pyspark_kmeans_spark import reporting
        from pyspark_kmeans_spark.operators.segmentation import COMPAT_FEATURES

        out, cfg, transport = self.last
        sil = {int(k): float(v) for k, v in out["silhouette"].items()}
        data = reporting.load_results_csv(cfg.results_path)
        ks = list(range(self.K_MIN, self.K_MAX + 1))
        layout = list(data.columns) == ["k", "cluster", "score", *COMPAT_FEATURES]
        rows = list(data["k"]) == [k for k in ks for _ in range(k)]
        scores = all(
            abs(float(s) - sil[int(k)]) <= 1e-9 for k, s in zip(data["k"], data["score"])
        )
        best = out["best_k"] == max(sil, key=sil.get)
        sent = len(transport.sent) == 1
        committed = self.ctx.expected["pipeline"][1]
        if committed is not None:
            pinned = {int(k): v for k, v in committed.items()}
        else:
            pinned = self.ctx.notes.setdefault("silhouette", sil)
        same = set(pinned) == set(sil) and all(abs(pinned[k] - sil[k]) <= 1e-9 for k in sil)
        return layout and rows and scores and best and sent and same

    def patch(self, tracer) -> None:
        super().patch(tracer)
        from pyspark.ml.util import JavaMLWriter

        tracer.patch(f"{PACKAGE}.operators.segmentation", "prepare_data", "operators.segmentation.plan")
        tracer.patch(f"{PACKAGE}.ml.features", "prepare_features", "ml.features.fit")
        tracer.patch(f"{PACKAGE}.ml.kmeans", "fit_kmeans", "ml.kmeans.fit")
        tracer.patch(f"{PACKAGE}.ml.kmeans", "silhouette_score", "ml.kmeans.silhouette")
        tracer.patch(f"{PACKAGE}.ml.kmeans", "save_clustering_results", "ml.kmeans.save")
        tracer.patch_method(JavaMLWriter, "save", "ml.kmeans.save")
        for fn in ("load_results_csv", "generate_report_text", "generate_email", "send_email"):
            tracer.patch(f"{PACKAGE}.reporting", fn, "reporting")


WORKLOADS = {w.name: w for w in (Segment, Engine)}
