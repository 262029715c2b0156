"""Regenerate ``digests.json``: the expected outputs, on the default seed,
of the operations that have no DuckDB oracle.

    python3 perfbench/digests.py        (from the root of a checkout)

Run it only when such an operation's output is meant to change; the
benchmark compares each run on the default seed against these values.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from check import digest  # noqa: E402
from run import Runner, parse_args, run_scope  # noqa: E402
from workloads import DEFAULT_SEED, DIGESTS  # noqa: E402

ROWS_ONLY = {"engine": ("dedup_minhash_lsh",)}


def main() -> None:
    sys.path.insert(0, os.getcwd())
    out = {}
    for wl_name in ("engine", "segment"):
        runner = Runner(parse_args(["--workload", wl_name, "--seed", str(DEFAULT_SEED), "--seconds", "1"]), os.getcwd())
        with run_scope(runner):
            wl = runner.wl
            wl.generate()
            runner.start_session()
            wl.build(runner.spark)
            if wl_name == "segment":
                wl.before_pass(runner.spark, 0)
                wl.ops()[0].call(runner.spark)
                out["segment"] = {"silhouette": {str(k): v for k, v in wl.last[0]["silhouette"].items()}}
                continue
            ops = {op.name: op for op in wl.ops()}
            out[wl_name] = {n: digest(ops[n].call(runner.spark).toPandas()) for n in ROWS_ONLY[wl_name]}
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
