"""Benchmark of the index build and the BM25 query engine.

    python3 perfbench/run.py --workload build|search --seed N \
        --seconds S --trace 0|1

Run from the repository root. Each run is its own process with its own
Spark session (local[<cpus>]), temp directory and SPARK_LOCAL_DIRS, all
under ``.perfbench_tmp/`` in the working directory and removed at exit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1`` its
``per_layer`` list. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _start_spark(cpus: int):
    from parser_indexer_spark.session import get_spark
    spark = get_spark(
        app="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp",
                       f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the JVM writes its temp files (native libraries, perf data) here too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import workloads
        from spans import Tracer
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        cpus = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = _start_spark(cpus)
        start_s = time.perf_counter() - t
        run = workloads.Run(spark, Tracer(spark, bool(args.trace)), tmp,
                            args.seed, args.seconds, cpus, T_PROCESS)
        run.layers["session.start_s"] = start_s
        end_to_end = workloads.WORKLOADS[args.workload](run)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))  # only if no other run uses it
        except OSError:
            pass

    if args.trace:
        # the end-to-end figures of the traced run, for the overhead
        values = dict(run.layers)
        values.update({f"trace.{k}": v for k, v in end_to_end.items()})
    else:
        values = end_to_end
    # a per-layer metric a workload does not exercise reads 0
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)
                                               if args.trace
                                               else values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
