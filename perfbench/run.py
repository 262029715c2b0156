"""Benchmark entry point.

    python3 perfbench/run.py --workload {segment,engine} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One driver process issues the workload's
operations one after another (closed loop, one client) on
``local[<cpus>]``.  The run generates its inputs from the seed, starts a
session sized to the host, builds every artifact the operations read,
runs the workload's untimed warm-up passes, then times passes until
``--seconds`` have elapsed and the workload's minimum number of timed passes
has run; every pass collects and checks each operation's output.  With
``--trace 1`` the second half of the passes runs traced and the per-layer
metrics are reported instead of the end-to-end ones.  The last line of
stdout is the JSON result; details (percentiles, host load, steal, written
bytes, spans) go to ``$CARGO_TARGET_DIR/perfbench/`` (default
``.bench_build``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from workloads import PACKAGE, WORKLOADS, Ctx  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s
MB = 1024.0 * 1024.0
# The driver JVM's collector.  Under the default G1 the heap it touches
# follows its pause-time heuristics, so peak RSS moved with host speed
# (ten seeds of segment: IQR 0.106 of the median; two runs of one seed on a
# contended host: JVM VmHWM 940 and 1,014 MiB); the parallel collector
# grows the heap with allocation (two runs: 878 and 897 MiB), and the heap
# is neither pre-sized nor pre-touched, so peak RSS still follows the heap
# the engine actually needs.
GC_OPTS = "-XX:+UseParallelGC"


def declared_units(kind: str) -> dict[str, str]:
    """name → unit of the metrics BENCHMARK.json declares under ``kind``
    (``end_to_end`` or ``per_layer``), in declaration order."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def dir_bytes(paths: list[str]) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(d, f)).st_size
                except OSError:
                    pass
    return total


def host_sizing() -> tuple[int, int]:
    """(cpus, driver heap MiB): every CPU this process may run on, and a
    quarter of the memory available now, at most 1 GiB (the inputs are
    small) and at least 512 MiB."""
    cpus = len(os.sched_getaffinity(0))
    heap = int(min(1024, max(512, procstat.mem_available_mb() / 4)))
    return cpus, heap


def layer_metrics(spans: list[dict]) -> dict[str, float]:
    """One traced pass's spans → per-layer sums.  A span named
    ``<layer>.<kind>`` adds its self time to ``<layer>.<kind>_s`` and its
    Spark jobs / CPU / shuffle / spill to the layer's totals."""
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for s, st in zip(spans, self_times(spans)):
        name = s["name"]
        if name.startswith("op."):
            continue
        layer, kind = name.rsplit(".", 1) if "." in name else (name, "")
        add(f"{layer}.{kind}_s" if kind else f"{layer}.s", st)
        add(f"{layer}.jobs", s.get("jobs", 0))
        for k in ("exec_cpu_s", "shuffle_mb", "spill_mb", "python_cpu_s"):
            if k in s:
                add(f"{layer}.{k}", s[k])
        add("spark.tasks_failed", s.get("tasks_failed", 0))
        add("spark.stages_retried", s.get("stages_retried", 0))
    for key in list(out):
        if key.endswith(".exec_s") and out[key] > 0:
            layer = key[: -len(".exec_s")]
            out[f"{layer}.cores_busy"] = out.get(f"{layer}.exec_cpu_s", 0.0) / out[key]
    return out


class Runner:
    def __init__(self, args, root: str):
        self.args = args
        base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
        self.out_dir = os.path.join(root, base, "perfbench")
        self.work = os.path.join(self.out_dir, f"{args.workload}-s{args.seed}-p{os.getpid()}")
        self.wl = WORKLOADS[args.workload](Ctx(args.seed, self.work))
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.attempted = 0
        self.failed: list[str] = []
        self.violations: list[str] = []
        self.spark = None
        self.proc = None

    # -- session -----------------------------------------------------------
    def start_session(self) -> None:
        cpus, heap = host_sizing()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_DRIVER_MEMORY=f"{heap}m",
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=tmp,
            # The launcher JVM spark-submit starts first: no /tmp/hsperfdata.
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        )
        tempfile.tempdir = tmp  # the module caches its first lookup
        self.detail["host"] = {"cpus": cpus, "heap_mb": heap}
        from pyspark import SparkContext

        from pyspark_kmeans_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {GC_OPTS} {self.wl.jvm_opts}".rstrip()},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        """Stop Spark and end the JVM.  The JVM is ended even when the
        session cannot be stopped cleanly (a run interrupted inside a Py4J
        call leaves the gateway unusable)."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
        except Exception as e:
            print(f"perfbench: session stop failed: {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            self.spark = None
            SparkContext._gateway = None
            SparkContext._jvm = None
            if self.proc is not None:
                # The gateway JVM exits when its stdin closes.
                self.proc.stdin.close()
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
                self.proc = None

    def failed_frac(self) -> float:
        """Op executions that raised or failed their output check, over
        op executions attempted."""
        return len(self.failed) / self.attempted

    def cpu_now(self) -> float:
        return procstat.tree_cpu_s(self.jvm_pid) + procstat.self_cpu_s()

    def jvm_gc_s(self) -> float:
        """Collection time of every JVM garbage collector so far, in s."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jvm_heap_peak_mb(self) -> float:
        """Peak used heap of the JVM so far (sum of the heap pools' peaks)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        heap = self.spark._jvm.java.lang.management.MemoryType.HEAP
        return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)) / MB

    def rss_parts(self) -> dict[str, float]:
        """VmHWM in MiB of the JVM, of its descendants (PySpark daemon and
        Python workers) and of this driver process."""
        jvm = procstat.vm_hwm_mb(self.jvm_pid)
        return {
            "jvm": jvm,
            "jvm_children": procstat.tree_hwm_mb(self.jvm_pid) - jvm,
            "driver": procstat.vm_hwm_mb(os.getpid()),
        }

    # -- passes ------------------------------------------------------------
    def run_op(self, op, tracer: Tracer):
        """Plan and execute one op; returns its collected output, or None
        for an action op.  Raises what the op raises."""
        spark = self.spark
        if op.span:
            with tracer.span(op.span):
                op.call(spark)
            return None
        with tracer.span(f"{op.layer}.plan"):
            df = op.call(spark)
        with tracer.span(f"{op.layer}.exec", python_cpu=True):
            return df.toPandas()

    def one_pass(self, i: int, tracer: Tracer) -> dict:
        """One pass over the op list.  Every pass, the warm-up ones included,
        collects each op's (small) output and checks it after the pass, so
        the timed passes run exactly the code the warm-up warmed."""
        wl, spark = self.wl, self.spark
        wl.before_pass(spark, i)
        ops = wl.ops()
        n_spans = len(tracer.spans)
        sinks = wl.sinks()
        b0 = dir_bytes(sinks)
        c0, g0 = self.cpu_now(), self.jvm_gc_s()
        t0 = time.perf_counter()
        failed, outputs = [], []
        op_s = {}
        for op in ops:
            self.attempted += 1
            t_op = time.perf_counter()
            try:
                with tracer.span(f"op.{op.name}"):
                    outputs.append((op, self.run_op(op, tracer)))
            except Exception as e:  # one failing op must not end the run
                failed.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")
            spark.catalog.clearCache()
            op_s[op.name] = time.perf_counter() - t_op
        wall = time.perf_counter() - t0
        cpu = self.cpu_now() - c0
        written = (dir_bytes(sinks) - b0) / MB
        rec = {"pass_s": wall, "cpu_s": cpu, "gc_s": self.jvm_gc_s() - g0, "written_mb": written, "ops": op_s}
        if wl.read_only and written > 0 and i >= wl.warmup_passes:
            # A first-touch build inside a timed pass: set-up was incomplete.
            self.violations.append(f"pass {i}: wrote {written:.3f} MiB to the warehouse")
        for op, pdf in outputs:
            if not op.span and not wl.check(op, pdf):
                failed.append(f"{op.name}: wrong output")
        raised = {f.split(":", 1)[0] for f in failed}
        for name in wl.after_pass(spark, i):
            if name not in raised:  # an op is counted once per pass
                failed.append(f"{name}: wrong output")
        self.failed.extend(failed)
        if tracer.enabled:
            tracer.collect_stage_metrics()
            spans = tracer.spans[n_spans:]
            rec["layers"] = layer_metrics(spans)
            rec["top_span_s"] = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
        parts = self.rss_parts()
        rec["rss_mb"] = parts
        self.peak_rss = max(self.peak_rss, sum(parts.values()))
        return rec

    def run(self) -> dict:
        a, wl = self.args, self.wl
        os.makedirs(self.work, exist_ok=True)
        d = self.detail
        d["loadavg_start"] = procstat.loadavg()
        steal0, total0 = procstat.cpu_ticks()

        t = time.perf_counter()
        wl.generate()
        d["prepare.generate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.start_session()
        start_s = time.perf_counter() - t
        self.peak_rss = 0.0
        tracer = Tracer(self.spark, f"r{os.getpid()}", enabled=False, jvm_pid=self.jvm_pid)

        t = time.perf_counter()
        wl.build(self.spark)
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.register(self.spark)
        ensure_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.expect(self.spark)
        d["prepare.expect_s"] = time.perf_counter() - t

        t = time.perf_counter()
        warm = [self.one_pass(i, tracer) for i in range(wl.warmup_passes)]
        warmup_s = time.perf_counter() - t
        d["warmup_passes"] = warm

        passes, traced = [], []
        # A traced run splits the timed passes between untraced and traced.
        half = a.seconds / 2.0 if a.trace else float(a.seconds)
        n_min = -(-wl.timed_passes // 2) if a.trace else wl.timed_passes
        t_measure = time.perf_counter()
        i = wl.warmup_passes
        while len(passes) < n_min or time.perf_counter() - t_measure < half:
            passes.append(self.one_pass(i, tracer))
            i += 1
        if a.trace:
            tracer.enabled = True
            wl.patch(tracer)
            while len(traced) < n_min or time.perf_counter() - t_measure < a.seconds:
                b0 = tracer.bookkeeping_s
                traced.append(self.one_pass(i, tracer))
                traced[-1]["bookkeeping_s"] = tracer.bookkeeping_s - b0
                i += 1
            tracer.unpatch()
            tracer.enabled = False

        d["jvm_heap_peak_mb"] = self.jvm_heap_peak_mb()
        steal1, total1 = procstat.cpu_ticks()
        d["loadavg_end"] = procstat.loadavg()
        d["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        d["passes"] = [{k: v for k, v in p.items() if k != "layers"} for p in passes + traced]
        d["pass_s"] = stats.summarize([p["pass_s"] for p in passes])
        d["cpu_s"] = stats.summarize([p["cpu_s"] for p in passes])
        d["written_mb"] = stats.median([p["written_mb"] for p in passes])
        d["failed"] = self.failed
        d["violations"] = self.violations
        d["failed_frac"] = self.failed_frac()

        setup_s = start_s + ensure_s + warmup_s
        d.update({"session.start_s": start_s, "setup.ensure_s": ensure_s,
                  "setup.warmup_s": warmup_s, "prepare.build_s": build_s, "setup_s": setup_s})
        if not a.trace:
            metrics = {
                "setup_s": setup_s,
                "pass_s": d["pass_s"]["median"],
                "cpu_s": d["cpu_s"]["median"],
                "peak_rss_mb": self.peak_rss,
            }
            return {k: {"value": metrics[k], "unit": u} for k, u in declared_units("end_to_end").items()}

        layers: dict[str, float] = {}
        keys = set().union(*(p["layers"] for p in traced))
        for k in keys:
            layers[k] = stats.median([p["layers"].get(k, 0.0) for p in traced])
        calls = tracer.counters.get("functions.warehouse_memo.calls", 0)
        layers["functions.warehouse_memo.hit_ratio"] = (
            tracer.counters.get("functions.warehouse_memo.hits", 0) / calls if calls else 0.0
        )
        traced_pass = stats.median([p["pass_s"] for p in traced])
        layers["trace.overhead_s"] = traced_pass - d["pass_s"]["median"]
        layers["trace.unspanned_s"] = stats.median([p["pass_s"] - p["top_span_s"] for p in traced])
        layers["trace.bookkeeping_s"] = stats.median([p["bookkeeping_s"] for p in traced])
        layers.update({k: d[k] for k in ("session.start_s", "setup.ensure_s", "setup.warmup_s", "prepare.build_s")})
        d["layers"] = layers
        with open(os.path.join(self.out_dir, f"spans-{a.workload}-s{a.seed}.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s) + "\n")
        return {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in declared_units("per_layer").items()}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@contextmanager
def run_scope(runner: Runner):
    """On the way out, however the run ends: stop the session and its JVM,
    delete the run's scratch tree and every warehouse artifact the run
    created (they are keyed by the run's own input paths)."""
    from pyspark_kmeans_spark.sources.bucketed import _WAREHOUSE

    before = set(os.listdir(_WAREHOUSE)) if os.path.isdir(_WAREHOUSE) else None
    try:
        yield
    finally:
        signal.alarm(0)
        try:
            runner.stop_session()
        finally:
            shutil.rmtree(runner.work, ignore_errors=True)
            if os.path.isdir(_WAREHOUSE):
                for name in set(os.listdir(_WAREHOUSE)) - (before or set()):
                    shutil.rmtree(os.path.join(_WAREHOUSE, name), ignore_errors=True)
                if before is None and not os.listdir(_WAREHOUSE):
                    os.rmdir(_WAREHOUSE)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminated(signum, frame):
    sys.exit(128 + signum)  # unwinds through run_scope, which stops the JVM


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    runner = Runner(args, root)
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminated)
    signal.alarm(DEADLINE_S)
    with run_scope(runner):
        metrics = runner.run()
    with open(os.path.join(runner.out_dir, f"last-{args.workload}.json"), "w") as f:
        json.dump(runner.detail, f, indent=1, default=str)
    summary = {k: runner.detail[k] for k in ("pass_s", "cpu_s", "written_mb", "failed_frac", "steal_frac", "loadavg_start", "loadavg_end", "host")}
    print(json.dumps(summary, default=str), file=sys.stderr)
    n_failed = len(runner.failed)
    correct = n_failed == 0 and not runner.violations
    print(json.dumps({"correct": correct, "attempted": runner.attempted, "failed": n_failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
