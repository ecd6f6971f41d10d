"""Benchmark entry point.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) on ``local[4]`` from the root of a
source checkout: starts Spark, generates the seeded inputs (three times;
the median counts toward set-up), runs the workload's own set-up (the
``daily_refresh`` history build), then runs operations in a closed loop
until ``--seconds`` have passed (at least one). Outputs are checked,
outside every timer. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer ones with ``--trace 1``).
Every metric, including the workload's own detail numbers, is also printed
above it as ``name value unit``, and the full record (inputs, host,
provenance, spans) is written under ``.perfbench_work/``.

Everything the run writes stays inside the checkout: Spark's local dirs,
the JVM's temp dir and Python's ``tempfile`` all point into the run's work
directory, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
SETUP_REPEATS = 3
DRIVER_MEM = "3g"


class Ctx:
    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "hastl_spark", "session.py")))


def confine(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` and make the engine importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher included, reads this
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cpus: int = CPUS):
    from hastl_spark.session import get_spark

    spark = get_spark(cpus, app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: closing the
    gateway's stdin is PySpark's own signal for the JVM to shut down."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def provenance(spark, seed: int) -> dict:
    def cmd(*a):
        try:
            return subprocess.run(a, capture_output=True, text=True, timeout=10,
                                  cwd=ROOT).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "spark": spark.version, "java": java,
            "python": platform.python_version(), "cpus": CPUS,
            "git_sha": cmd("git", "rev-parse", "HEAD") or None, "seed": seed}


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    confine(work)
    import workloads
    from spans import RssSampler, Tracer

    failures: list[str] = []
    detail: dict = {}
    spark = None
    try:
        with RssSampler() as rss:
            t = workloads.Timer()
            spark = start_spark(work)
            jvm_s = t.s()
            ctx = Ctx(spark, args.seed, work)
            wl = workloads.WORKLOADS[args.workload](ctx)
            gen_walls = []
            for _ in range(SETUP_REPEATS):
                t = workloads.Timer()
                wl.generate()
                wl.write_inputs()
                gen_walls.append(t.s())
            t = workloads.Timer()
            wl.set_up()
            set_up_s = t.s()
            failures += wl.check_setup()

            tracer = Tracer(spark, enabled=bool(args.trace))
            results, attempted, failed = [], 0, 0
            t_loop = workloads.Timer()
            while attempted == 0 or t_loop.s() < args.seconds:
                attempted += 1
                try:
                    res = wl.op(tracer, attempted)
                except Exception as e:  # noqa: BLE001 - count it, keep the loop
                    traceback.print_exc()
                    failed += 1
                    failures.append(f"operation {attempted} raised {e!r}")
                    continue
                bad = wl.op_failures(res)
                failed += bool(bad)
                failures += bad
                results.append(res)
                if len(results) > 1:  # the first one is checked in full
                    wl.finish_op(res)
            if not results:
                raise RuntimeError("no operation completed")
            failures += wl.check(results[0])
            wl.finish_op(results[0])
            setup_s = jvm_s + workloads.median(gen_walls) + set_up_s
            if args.trace:
                import layers

                metrics = layers.per_layer(ctx, results, tracer)
            else:
                metrics = wl.metrics(results)
                metrics["setup_s"] = (setup_s, "s")
        detail.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "inputs": wl.input_info,
            "host": provenance(spark, args.seed),
            "setup": {"jvm_s": jvm_s, "generate_s": gen_walls,
                      "workload_set_up_s": set_up_s},
            "failures": failures,
            "op_walls_s": [r["wall_s"] for r in results],
            "detail": wl.detail(results) | {
                "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
                "peak_rss_jvm_mb": {"value": rss.peak_jvm / 2**20, "unit": "MB"}},
        })
        out = {"correct": not failures,
               "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}}
        detail["metrics"] = out["metrics"]
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                     f"spans-{args.workload}-s{args.seed}.json"),
                        detail["host"])
        return out, detail
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_build", "daily_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not engine_present():
        print(f"perfbench: no engine sources at {ROOT} (expected "
              "__spark_entry__.py and hastl_spark/)", file=sys.stderr)
        return 2
    out, detail = run(args)
    for f in detail["failures"]:
        print(f"CHECK FAILED: {f}")
    for k, v in detail["detail"].items():
        print(f"{k} {v['value']} {v['unit']}")
    for k, v in out["metrics"].items():
        print(f"{k} {v['value']} {v['unit']}")
    path = os.path.join(ROOT, ".perfbench_work",
                        f"result-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
