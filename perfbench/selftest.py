"""Self-test of the harness at tiny sizes.

    python3 perfbench/selftest.py [--seed N]

1. Runs both workloads untraced and traced on tiny inputs and requires the
   metrics of each result to be exactly BENCHMARK.json's lists, with the
   listed units, and every run to be correct.
2. Builds tiny tiers and requires the token-conservation check to pass on
   ``tier_1d`` and to fail on a copy of it with one row dropped.

Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

TINY_BUILD = gen.SeqShape(n_sources=2, n_buckets=8 * 1440, base_rate=1.0,
                          tok_lo=4, tok_hi=8)
TINY_PROBE = gen.SeqShape(n_sources=2, n_buckets=2 * 1440, base_rate=1.0,
                          tok_lo=4, tok_hi=8)


def fail(msg: str) -> None:
    print(f"SELFTEST FAILED: {msg}")
    sys.exit(1)


def check_metric_lists(seed: int) -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            args = argparse.Namespace(workload=wl, seed=seed, seconds=0.1,
                                      trace=trace)
            out, detail = run.run(args)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                fail(f"{wl} trace={trace}: metrics {sorted(got)} "
                     f"!= {key} {sorted(want)} (or units differ)")
            if not out["correct"]:
                fail(f"{wl} trace={trace}: incorrect: {detail['failures']}")
            for k, v in out["metrics"].items():
                print(f"{wl} trace={trace}: {k} {v['value']} {v['unit']}")


def check_conservation_trips(seed: int) -> None:
    from hastl_spark.sources.tables import KeyedTable

    work = os.path.join(os.path.dirname(HERE), ".perfbench_work", "selftest")
    os.makedirs(work, exist_ok=True)
    run.confine(work)
    spark = run.start_spark(work)
    try:
        wl = workloads.FullBuild(run.Ctx(spark, seed, work))
        wl.generate()
        wl.write_inputs()
        res = wl.op(Tracer(), 1)
        bad = wl.op_failures(res) + wl.check(res)
        if bad:
            fail(f"tiny full_build checks: {bad}")
        t1d = KeyedTable(os.path.join(res["out"], "tier_1d"),
                         ["source", "bucket"]).read(spark).toPandas()
        total = wl.hist_tokens
        if workloads.conservation(t1d, total, "tier_1d"):
            fail("conservation fails on the intact tier")
        if not workloads.conservation(t1d.iloc[1:], total, "tier_1d copy"):
            fail("conservation passes with a row dropped")
        print("conservation: intact tier passes, one dropped row trips it")
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    if not run.engine_present():
        fail("no engine sources next to perfbench/")
    workloads.BUILD_SHAPE = TINY_BUILD
    layers.PROBE_SHAPE = TINY_PROBE
    check_metric_lists(args.seed)
    check_conservation_trips(args.seed)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
